package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property tests for the folded bucket shelves' lifecycle on GENERATED
  * document corpora: whatever the tranche cuts, a build followed by k
  * appends and an optional compaction (manual, or the auto-compact
  * policy at any threshold) must serve exactly the one-pass fold over
  * every id up to the last cut, and a probe of the remaining delta must
  * flag exactly what a from-scratch index over those ids flags. The
  * registry gates see only the fixture's fixed cuts. Raw ScalaCheck
  * sampling with fixed seeds, as in PartialsShelfPropertySpec. */
class BucketShelfPropertySpec extends SparkSpec {

  private val words = Seq("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta")

  // a small pool of whole texts makes exact (media) duplicates recur,
  // free word draws make near (band) duplicates
  private val pool = Seq(
    "alpha beta gamma delta epsilon zeta",
    "one two three four five six",
    "alpha beta gamma delta epsilon eta")

  private val text: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf(pool),
    2 -> Gen.chooseNum(3, 7).flatMap(Gen.listOfN(_, Gen.oneOf(words)))
      .map(_.mkString(" ")))

  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.choose(6, 24)
    ids <- Gen.listOfN(n, Gen.choose(1L, 200L))
    texts <- Gen.listOfN(n, text)
  } yield ids.distinct.sorted.zip(texts)

  private sealed trait Fold
  private case object NoFold extends Fold
  private case object Manual extends Fold
  private final case class Auto(max: Int) extends Fold

  private val foldGen: Gen[Fold] = Gen.frequency(2 -> Gen.const(NoFold),
    1 -> Gen.const(Manual), 1 -> Gen.choose(1, 3).map(Auto(_)))

  private def sample[T](seed: Int)(gen: Gen[T]): T =
    gen.pureApply(Gen.Parameters.default, Seed(seed.toLong))

  private def corpus(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("bucket_prop_").toString
    docs.toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def rows(d: DataFrame): Seq[Vector[Any]] =
    d.collect().map(_.toSeq.toVector).toSeq

  private def lifecycle(e: BucketShelf.Entry): Unit =
    (1 to 6).foreach { seed =>
      val (docs, cuts, fold) = sample(seed)(for {
        docs <- corpusGen
        k <- Gen.frequency(1 -> Gen.const(0), 3 -> Gen.choose(1, 3))
        // cuts above the base cut, where appends land, or just outside
        mid = (docs.head._1 + docs.last._1) / 2
        cuts <- Gen.listOfN(k, Gen.choose(mid - 5, docs.last._1 + 5))
        fold <- foldGen
      } yield (docs, cuts.sorted, fold))
      val dir = corpus(docs)
      val shelf = e.shelf
      val out = BucketShelf.build(spark, dir, e)
      val max = fold match { case Auto(m) => m; case _ => 0 }
      cuts.foreach(BucketShelf.append(spark, dir, e, _, autoCompactMax = max))
      if (fold == Manual) BucketShelf.compact(spark, dir, e)
      val ids = docs.map(_._1)
      val mid = (ids.min + ids.max) / 2
      val last = (mid +: ids.filter(i => i > mid && cuts.exists(i <= _))).max
      val ctx = s"seed $seed, cuts $cuts, $fold"
      assert(DedupOps.cutOf(out) === last, ctx)
      if (max > 0)
        assert(Generations.count(out.resolve("buckets")) <= max, ctx)
      val all = shelf.rows(spark, dir)
      val fresh = shelf.rule(shelf.keyed(all.filter(col("doc_id") <= last)))
      assert(rows(BucketShelf.served(spark, dir, e)) ===
        rows(fresh.orderBy(shelf.keys.map(col): _*)), ctx)
      val delta = all.filter(col("doc_id") > last)
      assert(rows(BucketShelf.probe(spark, dir, e,
          BucketShelf.delta(spark, dir, e)).orderBy(col("doc_id"))) ===
        rows(shelf.flag(shelf.keyed(delta).join(fresh, shelf.keys))
          .orderBy(col("doc_id"))), ctx)
    }

  test("band shelf: any append/compaction sequence serves the one-pass fold and probes like a fresh index") {
    lifecycle(BucketShelf.t35)
  }

  test("media shelf: any append/compaction sequence serves the one-pass fold and probes like a fresh index") {
    lifecycle(BucketShelf.m9)
  }
}
