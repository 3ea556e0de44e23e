package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The maintenance shelf's compaction + retraction contracts.
  *
  * q37/q38 (t36's fold on the partials families): compaction must be
  * INVISIBLE in the result — sum and HLL-union partials are
  * merge-associative, so folding N generations into one changes no
  * aggregate and no estimate — while the READ side collapses to a
  * single `compact-*` generation with `_CUT` untouched and a second
  * compaction a no-op.
  *
  * q39 (retraction — the sum family's deletion): SUM IS INVERTIBLE,
  * so retracting a bad ingest window is an O(window) `retract-*`
  * append of NEGATED partials, and the ordinary merge-on-read nets it
  * out. A key whose every event fell inside the window nets to zero
  * and must DROP (a group with no surviving rows does not exist);
  * compaction folds the negative generation into the base, leaving an
  * explicit (0, 0) row the serve filter still hides — the filter is
  * the read contract, not a transient.
  */
class PartialsCompactSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def generationKinds(p: java.nio.file.Path): Set[String] =
    p.toFile.listFiles().map(_.getName)
      .filter(_.endsWith(".parquet"))
      .map(_.takeWhile(_ != '-')).toSet

  test("q37 compaction is invisible: serve equals the full-table aggregate; generations fold to one; _CUT untouched") {
    val served = Relational.q37PartialsCompact(spark, dir)
      .collect().map(_.toSeq.toVector).toSeq
    val expected = Tables(spark, dir, "events")
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("cents")).cast("double") / 100d, 2).as("sum_value"))
      .orderBy(col("event_type"))
      .collect().map(_.toSeq.toVector).toSeq
    assert(served === expected)
    val out = PartialsShelf.path(spark, dir, PartialsShelf.q37)
    // the append-* generation is gone; ONLY the compacted one remains
    assert(generationKinds(out.resolve("partials")) === Set("compact"))
    // _CUT is a watermark, not a layout property: compaction leaves it
    // at the corpus max, so appends resume where they left off
    val hi = Tables(spark, dir, "events")
      .agg(max(col("ts"))).head().getLong(0)
    assert(new String(Files.readAllBytes(out.resolve("_CUT")), "UTF-8")
      .trim.toLong === hi)
    // a converged (already-compacted) artifact must not be rewritten
    assert(!PartialsShelf.compact(spark, dir, PartialsShelf.q37),
      "compaction of a single-generation artifact must no-op")
  }

  test("q38 compaction changes no estimate: compacted equals appended-merged bit-identically") {
    val compacted = PartialsShelf.serve(spark, dir, PartialsShelf.q38)
      .orderBy(col("event_type"))
      .collect().map(_.toSeq.toVector).toSeq
    // the q36 family keeps its own (uncompacted, two-generation)
    // artifact: union-of-unions ≡ one union per key, so the folded
    // sketches estimate EXACTLY what the generation pile does
    val appended = PartialsShelf.serve(spark, dir, PartialsShelf.q36)
      .orderBy(col("event_type"))
      .collect().map(_.toSeq.toVector).toSeq
    assert(compacted === appended)
    assert(generationKinds(
      PartialsShelf.path(spark, dir, PartialsShelf.q38).resolve("partials")) ===
      Set("compact"))
  }

  test("q39 retraction serves the corpus minus the window; the retract generation lands beside the appends") {
    val served = Relational.q39AggRetract(spark, dir)
      .collect().map(_.toSeq.toVector).toSeq
    val ev = Tables(spark, dir, "events")
    val Array(lo, hi) = ev.agg(min(col("ts")), max(col("ts")))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val (a, b) = (lo + (hi - lo) * 2 / 5, lo + (hi - lo) * 3 / 5)
    val expected = ev
      .filter(!(col("ts") > lit(a) && col("ts") <= lit(b)))
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("cents")).cast("double") / 100d, 2).as("sum_value"))
      .orderBy(col("event_type"))
      .collect().map(_.toSeq.toVector).toSeq
    assert(served === expected)
    val out = PartialsShelf.path(spark, dir, PartialsShelf.q39)
    val kinds = generationKinds(out.resolve("partials"))
    assert(kinds.contains("retract"), s"retract generation missing: $kinds")
    assert(Files.exists(out.resolve("_RETRACTED")))
    // idempotent: a second serve re-retracts nothing — same files
    val names0 = out.resolve("partials").toFile.listFiles()
      .map(_.getName).toSet
    val again = Relational.q39AggRetract(spark, dir)
      .collect().map(_.toSeq.toVector).toSeq
    assert(again === served)
    assert(out.resolve("partials").toFile.listFiles()
      .map(_.getName).toSet === names0,
      "a second retraction must not write a new generation")
  }

  test("q39 ghost-key pin: a fully-retracted key drops; compaction folds the negative mass to an explicit zero row") {
    // crafted corpus in BIGINT-nanos ts: span 10 s, window (4 s, 6 s].
    // "ghost" lives ENTIRELY inside the window (one event in the base
    // tranche, one in the appended tranche — the retraction must net
    // across generations); "mixed" straddles it; "keep" never enters.
    val tmp = Files.createTempDirectory("q39_spec_").toString
    import spark.implicits._
    val lo = 1_000_000_000_000_000L
    def at(sec: Double): Long = lo + (sec * 1e9).toLong
    Seq(
      (at(0.0), "keep", 1.00), (at(10.0), "keep", 2.00),
      (at(4.4), "ghost", 5.00), (at(5.5), "ghost", 7.00),
      (at(1.0), "mixed", 4.00), (at(5.0), "mixed", 3.00),
      (at(9.0), "mixed", 6.00))
      .toDF("ts", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val served = Relational.q39AggRetract(spark, tmp)
      .collect().map(_.toSeq.toVector).toSeq
    assert(served === Seq(
      Vector("keep", 2L, 3.00),
      Vector("mixed", 2L, 10.00)),
      s"ghost must drop entirely, mixed must keep only its out-of-window events: $served")
    // compaction nets the retract-* generation into the base …
    assert(PartialsShelf.compact(spark, tmp, PartialsShelf.q39))
    val out = PartialsShelf.path(spark, tmp, PartialsShelf.q39)
    assert(generationKinds(out.resolve("partials")) === Set("compact"))
    // … leaving the fully-retracted key as an explicit zero row in the
    // folded partials — the serve's n_events > 0 filter is what hides
    // it, before AND after compaction
    val ghostRow = spark.read
      .parquet(out.resolve("partials").toString)
      .filter(col("event_type") === "ghost")
      .collect()
    assert(ghostRow.length === 1 &&
      ghostRow.head.getAs[Long]("pn") === 0L &&
      ghostRow.head.getAs[Long]("pc") === 0L,
      "the folded base must carry the netted-to-zero key explicitly")
    val afterCompact = Relational.q39AggRetract(spark, tmp)
      .collect().map(_.toSeq.toVector).toSeq
    assert(afterCompact === served,
      "compaction must be invisible through the retraction serve")
  }

  test("q41 age-off advances incrementally, tolerates lagging horizons, and compacts across generations") {
    // crafted corpus: ts span [1 s, 10 s] → horizons h1 = 3.25 s,
    // h2 = 5.5 s (lo + span/4, lo + span/2). "old" expires entirely
    // (1 s, 4 s); "mixed" keeps only its 8 s event; "new" (7 s, 10 s)
    // is untouched.
    val tmp = Files.createTempDirectory("q41_spec_").toString
    import spark.implicits._
    val base = 1_000_000_000_000_000L
    def at(sec: Double): Long = base + (sec * 1e9).toLong
    Seq(
      (at(1.0), "old", 1.00), (at(4.0), "old", 2.00),
      (at(2.0), "mixed", 4.00), (at(8.0), "mixed", 3.00),
      (at(7.0), "new", 5.00), (at(10.0), "new", 6.00))
      .toDF("ts", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val served = Relational.q41AggAgeOff(spark, tmp)
      .collect().map(_.toSeq.toVector).toSeq
    assert(served === Seq(
      Vector("mixed", 1L, 3.00),
      Vector("new", 2L, 11.00)),
      s"expired history must vanish, survivors must keep exact sums: $served")
    val out = PartialsShelf.path(spark, tmp, PartialsShelf.q41)
    val h1 = at(1.0) + (at(10.0) - at(1.0)) / 4
    val h2 = at(1.0) + (at(10.0) - at(1.0)) / 2
    val names = out.resolve("partials").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(names.exists(_.startsWith(s"ageoff$h1-")) &&
      names.exists(_.startsWith(s"ageoff$h2-")),
      s"one generation per horizon: ${names.sorted.toSeq}")
    // INCREMENTAL advance: the h2 generation retracted ONLY the
    // (h1, h2] increment — on this corpus exactly old's 4 s event —
    // never the cumulative prefix (a cumulative bug would double-
    // subtract everything below h1)
    val incr = spark.read.parquet(out.resolve("partials").toString +
        s"/ageoff$h2-*")
      .collect().map(r => (r.getString(0), r.getAs[Long]("pn"),
        r.getAs[Long]("pc"))).sorted
    assert(incr.toSeq === Seq(("old", -1L, -200L)), incr.toSeq)
    // a LAGGING scheduler re-submitting an older horizon must no-op
    val filesBefore = names.sorted.toSeq
    PartialsShelf.ageOff(spark, tmp, PartialsShelf.q41, h1)
    assert(out.resolve("partials").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq ===
      filesBefore, "a horizon at or below _AGEOFF must not re-retract")
    // compaction folds base + appends + BOTH age-off generations; the
    // fully-expired key survives as an explicit zero row the serve's
    // n_events > 0 filter hides
    assert(PartialsShelf.compact(spark, tmp, PartialsShelf.q41))
    assert(generationKinds(out.resolve("partials")) === Set("compact"))
    val oldRow = spark.read.parquet(out.resolve("partials").toString)
      .filter(col("event_type") === "old").collect()
    assert(oldRow.length === 1 && oldRow.head.getAs[Long]("pn") === 0L)
    assert(Relational.q41AggAgeOff(spark, tmp)
      .collect().map(_.toSeq.toVector).toSeq === served,
      "compaction must be invisible through the age-off serve")
    // and the retention loop continues: a LATER horizon lands as a
    // fresh generation against the compacted base
    PartialsShelf.ageOff(spark, tmp, PartialsShelf.q41, at(8.5))
    val aged = Relational.q41AggAgeOff(spark, tmp)
      .collect().map(_.toSeq.toVector).toSeq
    assert(aged === Seq(Vector("new", 1L, 6.00)), aged.toSeq)
  }

  test("q44 external erasure: the listed users' mass nets out; a second list lands beside the first; compaction folds both") {
    // crafted corpus: user ids {3, 5, 7, 14} → the staged list erases
    // the in-range multiples of 7 ({7, 14}, plus the absent 1014 and
    // a repeated 7 — both no-ops). "gone" lives entirely on erased
    // users (ghost-drops); "mixedu" straddles; "keep" never touches
    // an erased user.
    val tmp = Files.createTempDirectory("q44_spec_").toString
    import spark.implicits._
    val base = 1_000_000_000_000_000L
    def at(sec: Double): Long = base + (sec * 1e9).toLong
    Seq(
      (at(1.0), 7L, "gone", 5.00),
      (at(2.0), 14L, "mixedu", 3.00), (at(3.0), 3L, "mixedu", 4.00),
      (at(4.0), 5L, "keep", 2.00), (at(5.0), 3L, "keep", 1.00))
      .toDF("ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val served = Relational.q44AggTakedown(spark, tmp)
      .collect().map(_.toSeq.toVector).toSeq
    assert(served === Seq(
      Vector("keep", 2L, 3.00),
      Vector("mixedu", 1L, 4.00)),
      s"erased users' events must net out exactly: $served")
    val out = PartialsShelf.path(spark, tmp, PartialsShelf.q44)
    // the erasure marker carries the staged list's set fingerprint
    val list = spark.read.parquet(DedupOps.stageErasures(spark, tmp,
      "events", "user_id").resolve("erasures").toString)
    assert(Files.exists(out.resolve(
      s"_ERASED_${DedupOps.erasureFingerprint(list, idCol = "user_id")}")))
    // exactly one erasure generation, keyed by the staged list
    val names0 = out.resolve("partials").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    assert(names0.exists(_.startsWith("retractx")), names0)
    // re-submitting the SAME list is a marker no-op (list-keyed
    // idempotence — never a double subtraction)
    assert(Relational.q44AggTakedown(spark, tmp)
      .collect().map(_.toSeq.toVector).toSeq === served)
    assert(out.resolve("partials").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq ===
      names0, "the same list must not re-erase")
    // a SECOND, different list (tomorrow's requests) lands as its own
    // generation under its own tag — no shared-marker short-circuit
    PartialsShelf.erase(spark, tmp, PartialsShelf.q44,
      Seq(3L).toDF("user_id"), "spec2")
    assert(Files.exists(out.resolve("_ERASED_spec2")))
    val served2 = Relational.q44AggTakedown(spark, tmp)
      .collect().map(_.toSeq.toVector).toSeq
    assert(served2 === Seq(Vector("keep", 1L, 2.00)),
      s"user 3's erasure must drop mixedu entirely and halve keep: $served2")
    // compaction nets base + both erasure generations; the fully-
    // erased keys survive as explicit zero rows the serve filter hides
    assert(PartialsShelf.compact(spark, tmp, PartialsShelf.q44))
    assert(generationKinds(out.resolve("partials")) === Set("compact"))
    val zeroed = spark.read.parquet(out.resolve("partials").toString)
      .filter(col("pn") === 0L).collect().map(_.getString(0)).sorted
    assert(zeroed.toSeq === Seq("gone", "mixedu"), zeroed.toSeq)
    assert(Relational.q44AggTakedown(spark, tmp)
      .collect().map(_.toSeq.toVector).toSeq === served2,
      "compaction must be invisible through the erasure serve")
  }

  test("m10 media-index compaction serves m9's result from a single generation") {
    val compacted = MultimodalOps.mediaIndexCompactServe(spark, dir)
      .collect().map(_.toSeq.toVector).toSeq
    val appended = MultimodalOps.mediaIndexAppendServe(spark, dir)
      .collect().map(_.toSeq.toVector).toSeq
    assert(compacted === appended)
    assert(generationKinds(
      BucketShelf.path(spark, dir, BucketShelf.m10).resolve("buckets")) ===
      Set("compact"))
  }
}
