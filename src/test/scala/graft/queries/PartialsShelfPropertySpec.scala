package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property tests for the partials shelves' verbs on GENERATED event
  * corpora: each deletion verb, applied with an arbitrary window, list
  * or horizon, must serve exactly what one pass over the surviving
  * events computes, and a compaction must not change that. The
  * registry gates see only the fixture's fixed windows and lists. Raw
  * ScalaCheck sampling with fixed seeds, as in KernelPropertySpec. */
class PartialsShelfPropertySpec extends SparkSpec {

  private type Ev = (Long, String, Long, Double)

  private val lo = 1_000_000_000_000_000L
  private val ms = 1000000L

  // BIGINT-nanos events over a 10 s span at millisecond grain
  private val event: Gen[Ev] = for {
    t <- Gen.chooseNum(0L, 10000L)
    k <- Gen.oneOf("a", "b", "c", "d")
    u <- Gen.chooseNum(1L, 12L)
    c <- Gen.chooseNum(0, 9999)
  } yield (lo + t * ms, k, u, c / 100d)

  private val events: Gen[List[Ev]] =
    Gen.chooseNum(1, 40).flatMap(Gen.listOfN(_, event))

  // a (ts > a, ts <= b] window that may overhang either end of the span
  private val window: Gen[(Long, Long)] = for {
    a <- Gen.chooseNum(-500L, 10500L)
    w <- Gen.chooseNum(0L, 6000L)
  } yield (lo + a * ms, lo + (a + w) * ms)

  private def sample[T](seed: Int)(gen: Gen[T]): T =
    gen.pureApply(Gen.Parameters.default, Seed(seed.toLong))

  private def df(evs: Seq[Ev]): DataFrame = {
    import spark.implicits._
    evs.toDF("ts", "event_type", "user_id", "value")
  }

  private def corpus(evs: Seq[Ev]): String = {
    val dir = Files.createTempDirectory("partials_prop_").toString
    df(evs).coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  private def rows(d: DataFrame): Seq[Vector[Any]] =
    d.collect().map(_.toSeq.toVector).toSeq

  // q33's statistics, computed in one pass over the given events
  private def stats(evs: Seq[Ev]): Seq[Vector[Any]] = rows(df(evs)
    .select(col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    .groupBy(col("event_type"))
    .agg(count(lit(1)).as("n_events"),
      round(sum(col("cents")).cast("double") / 100d, 2).as("sum_value"))
    .orderBy(col("event_type")))

  private def estimates(d: DataFrame): Map[String, Long] =
    d.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("sum shelf: a retracted window, an erased list and an age-off each serve the survivors' statistics, before and after compaction") {
    import spark.implicits._
    (1 to 6).foreach { seed =>
      val (evs, (a, b), erased, h) = sample(seed)(for {
        evs <- events
        w <- window
        erased <- Gen.containerOf[Set, Long](Gen.chooseNum(1L, 14L))
        h <- Gen.chooseNum(-500L, 10500L)
      } yield (evs, w, erased, lo + h * ms))
      val dir = corpus(evs)
      val cases: Seq[(PartialsShelf.Entry, Ev => Boolean, () => Unit)] = Seq(
        (PartialsShelf.q39, ev => ev._1 > a && ev._1 <= b, () =>
          PartialsShelf.retract(spark, dir, PartialsShelf.q39, "retract",
            "_RETRACTED")(_ => spark.read.parquet(s"$dir/events.parquet")
            .filter(col("ts") > a && col("ts") <= b))),
        (PartialsShelf.q44, ev => erased(ev._3), () =>
          PartialsShelf.erase(spark, dir, PartialsShelf.q44,
            erased.toSeq.toDF("user_id"), "prop")),
        (PartialsShelf.q41, ev => ev._1 <= h, () =>
          PartialsShelf.ageOff(spark, dir, PartialsShelf.q41, h)))
      cases.foreach { case (e, removed, verb) =>
        PartialsShelf.append(spark, dir, e)
        verb()
        val expected = stats(evs.filterNot(removed))
        assert(rows(PartialsShelf.served(spark, dir, e)) === expected,
          s"seed $seed, ${e.prefix}")
        PartialsShelf.compact(spark, dir, e)
        assert(rows(PartialsShelf.served(spark, dir, e)) === expected,
          s"seed $seed, ${e.prefix} after compaction")
      }
    }
  }

  test("sketch shelf: a re-sketch serves single-pass sketches of the survivors, before and after the replacement-aware compaction") {
    (1 to 6).foreach { seed =>
      val (evs, (a, b), keys, t) = sample(seed)(for {
        evs <- events
        w <- window
        keys <- Gen.someOf("a", "b", "c", "d")
        t <- Gen.chooseNum(0L, 10000L)
      } yield (evs, w, keys.toSet, lo + t * ms))
      val dir = corpus(evs)
      val e = PartialsShelf.q40
      // mid-ingest: absorb up to t, re-sketch, then absorb the rest
      // through the aware append. The re-sketch retracts the matching
      // events the artifact had absorbed: those at or below its cut.
      PartialsShelf.append(spark, dir, e, t)
      PartialsShelf.resketch(spark, dir, e, col("ts") > a &&
        col("ts") <= b && col("event_type").isin(keys.toSeq: _*))
      PartialsShelf.append(spark, dir, e, aware = true)
      val ts = evs.map(_._1)
      val built = (ts.min + ts.max) / 2
      val cut = (built +: ts.filter(x => x > built && x <= t)).max
      val survivors = evs.filterNot(ev =>
        ev._1 > a && ev._1 <= b && keys(ev._2) && ev._1 <= cut)
      val expected = estimates(df(survivors).groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"),
          PartialsShelf.LgConfigK))))
      assert(estimates(PartialsShelf.served(spark, dir, e)) === expected,
        s"seed $seed")
      PartialsShelf.compact(spark, dir, e)
      assert(estimates(PartialsShelf.served(spark, dir, e)) === expected,
        s"seed $seed after compaction")
    }
  }
}
