package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** t42 — incremental connected components on the cluster shelf.
  *
  * The contract under pin: APPEND-THEN-SERVE ≡ REBUILD, exactly — the
  * merge-graph update (delta docs + touched current labels, converged
  * by the same CC loop) must reproduce the full-corpus
  * bucket-connectivity clusters including the hard cases: a delta
  * chain BRIDGING two base clusters (their members relabel to the
  * merged min), an absorbed base SINGLETON that becomes its new
  * cluster's canon (it had no labels row at all — the append must
  * create one), and delta-only clusters. The min fold keeps every
  * mutation associative: relabels only ever decrease.
  */
class CcIncrementalSpec extends SparkSpec {

  private val tA = "alpha beta gamma delta epsilon zeta"
  private val tB = "one two three four five six"
  private val tC = "quick brown foxes vault lazy hounds"

  /** lo=1 hi=163 → cut=82. Base: cluster A {1, 2}, cluster B
    * {10, 11}, singleton 50. Delta: 100 = A++B (the bridge — it
    * shares buckets with BOTH sides iff some band's min-hashes all
    * come from A's shingles and another's all from B's), 120 = tC
    * (absorbs the base singleton 50, which becomes the canon),
    * 163 = unique text (a delta singleton — must emit nothing). */
  private def craftCorpus(): java.nio.file.Path = {
    val tmp = java.nio.file.Files.createTempDirectory("t42_spec_")
    import spark.implicits._
    val stage = tmp.resolve("stage")
    Seq(
      (1L, tA), (2L, tA),
      (10L, tB), (11L, tB),
      (50L, tC),
      (100L, tA + " " + tB),
      (120L, tC),
      (163L, "planets orbit the bright distant star"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.toFile.listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, tmp.resolve("documents.parquet"))
    tmp
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("cluster_id"),
      r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_size"),
      r.getAs[Boolean]("keep"))).toSeq

  test("readStable schema memo invalidates on artifact REBUILD (withTs flip at the same path)") {
    // r22: the per-path schema memo must not outlive a rebuild — a
    // REBUILD at the same path with the other withTs flag changes the
    // members schema, and a stale memo would silently project the
    // ingest_ts column away (spark.read.schema drops absent columns
    // without error). ensureArtifact's clear-and-build path drops the
    // memo entries under the artifact dir.
    val dir = craftCorpus().toString
    val plain = ClusterShelf.Entry(Nil, "fpmemo", ClusterShelf.Frozen)
    val out = ClusterShelf.build(spark, dir, plain)
    val members = out.resolve("members").toString
    assert(!DedupOps.readStable(spark, members).columns.contains("ingest_ts"))
    // force the rebuild path: a marker-less artifact dir is exactly
    // the crash-mid-build shape ensureArtifact re-derives
    java.nio.file.Files.delete(out.resolve("_INDEX_READY"))
    ClusterShelf.build(spark, dir, plain.copy(withTs = true))
    val m1 = DedupOps.readStable(spark, members)
    assert(m1.columns.contains("ingest_ts"),
      "rebuild with a changed schema must re-infer, not serve the memo")
    assert(m1.filter(col("ingest_ts").isNotNull).count() > 0)
  }

  test("t42 append ≡ rebuild: bridge merge, singleton absorption, canon relabel") {
    val tmp = craftCorpus()
    val served = rows(DedupOps.ccIncrementalServe(spark, tmp.toString))
    // the ground truth: the same bucket-connectivity CC rebuilt over
    // the FULL corpus through the identical engine pieces
    val expected = rows(DedupOps.rebuildBucketClusters(spark, tmp.toString))
    assert(served === expected)
    val byDoc = served.map(r => r._2 -> r._1).toMap
    // the fixture really exercised the merge: the bridge put A and B
    // in ONE cluster labeled by A's min — B's members RELABELED
    assert(byDoc.get(1L).contains(1L) && byDoc.get(10L).contains(1L) &&
      byDoc.get(11L).contains(1L) && byDoc.get(100L).contains(1L),
      s"the bridge must merge A and B under canon 1: $served")
    // the absorbed base singleton is its new cluster's CANON — it had
    // no labels row in the base artifact at all
    assert(byDoc.get(50L).contains(50L) && byDoc.get(120L).contains(50L),
      s"singleton 50 must absorb 120 as canon: $served")
    // the delta singleton emits nothing
    assert(!byDoc.contains(163L), s"163 has no bucket-mate: $served")
    // the relabel landed as ONE append generation beside the base
    val out = ClusterShelf.path(spark, tmp.toString, ClusterShelf.t42)
    val names = out.resolve("labels").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(names.exists(_.startsWith("append-163-")), names.toSeq)
    assert(names.exists(_.startsWith("part-")),
      "the base generation must be untouched (LSM append, no rewrite)")
    // idempotent: everything is absorbed — a re-append is a no-op,
    // and a warm serve submits no job before its action (_CUT ≥ _HI
    // answers the append; the labels read declares its schema)
    val names0 = names.sorted.toSeq
    ClusterShelf.append(spark, tmp.toString, ClusterShelf.t42)
    val (warm, jobs) =
      jobsDuring(DedupOps.ccIncrementalServe(spark, tmp.toString))
    assert(jobs === 0, s"$jobs jobs before any action")
    assert(rows(warm) === expected)
    assert(out.resolve("labels").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq ===
      names0, "an absorbed corpus must not re-append")
    DedupOps.deleteRecursively(tmp.toFile)
  }

  test("genPartitions > 1: the fold/commit protocol serves identically with multi-file generations") {
    // the genParts knob is "parameterized for larger deployments"
    // (r21): every generation write lands N part files instead of 1.
    // The commit protocol (clear-first moves, fenced folds, the
    // replacement landing, the min fold over generations) must be
    // file-count-agnostic — pin append + forget + compact at N=2
    // against the same rebuild comparators the N=1 tests use.
    val tmp = craftCorpus()
    spark.conf.set("graft.artifact.genPartitions", "2")
    try {
      import spark.implicits._
      ClusterShelf.build(spark, tmp.toString, ClusterShelf.t42)
      ClusterShelf.append(spark, tmp.toString, ClusterShelf.t42)
      assert(rows(ccAssembled(tmp)) ===
        rows(DedupOps.rebuildBucketClusters(spark, tmp.toString)),
        "append ≡ rebuild must hold with 2-file generations")
      val out = ClusterShelf.path(spark, tmp.toString, ClusterShelf.t42)
      ClusterShelf.forget(spark, out, Seq(100L).toDF("doc_id"), "gp100")
      assert(rows(ClusterShelf.served(spark, out)) ===
        rebuildMinus(tmp, Set(100L)),
        "forget's replacement must hold with 2-file generations")
      assert(ClusterShelf.compact(spark, out))
      assert(rows(ClusterShelf.served(spark, out)) ===
        rebuildMinus(tmp, Set(100L)),
        "compaction must be invisible with 2-file generations")
    } finally {
      spark.conf.unset("graft.artifact.genPartitions")
      DedupOps.deleteRecursively(tmp.toFile)
    }
  }

  test("t42 two-tranche composition: a second append merges against state the FIRST append wrote") {
    val tmp = craftCorpus()
    ClusterShelf.build(spark, tmp.toString, ClusterShelf.t42)
    // tranche 1: the bridge and the tC twin; tranche 2: 163
    ClusterShelf.append(spark, tmp.toString, ClusterShelf.t42, upTo = 130L)
    val mid = rows(ccAssembled(tmp))
    assert(mid.map(r => r._2 -> r._1).toMap.get(11L).contains(1L),
      s"the first tranche's merge must already serve: $mid")
    ClusterShelf.append(spark, tmp.toString, ClusterShelf.t42)
    val fin = rows(ccAssembled(tmp))
    val expected = rows(DedupOps.rebuildBucketClusters(spark, tmp.toString))
    assert(fin === expected,
      "two staged appends must land exactly where one does")
    DedupOps.deleteRecursively(tmp.toFile)
  }

  private def ccAssembled(tmp: java.nio.file.Path) = {
    val out = DedupOps.requireReady(ClusterShelf.path(spark,
      tmp.toString, ClusterShelf.t42))
    ClusterShelf.served(spark, out)
  }

  /** The rebuild comparator over corpus-minus-`dead` — what any forget
    * must equal exactly. */
  private def rebuildMinus(tmp: java.nio.file.Path, dead: Set[Long]) =
    rows(DedupOps.connectedComponentsOf(spark, DedupOps.bucketStarEdges(
      DedupOps.bandedSignaturesOf(
        graft.Tables(spark, tmp.toString, "documents")
          .select(col("doc_id"), col("text"))
          .filter(!col("doc_id").isin(dead.toSeq: _*)))
        .select(col("band"), col("sig"), col("doc_id")))))

  test("t43 forget SPLITS the bridged component; replacement generation; refusal until compaction") {
    val tmp = craftCorpus()
    ClusterShelf.build(spark, tmp.toString, ClusterShelf.t42)
    ClusterShelf.append(spark, tmp.toString, ClusterShelf.t42)
    val out = ClusterShelf.path(spark, tmp.toString, ClusterShelf.t42)
    // before: the bridge 100 holds {1,2,10,11,100} together under 1
    assert(rows(ccAssembled(tmp)).map(r => r._2 -> r._1).toMap
      .get(11L).contains(1L))
    import spark.implicits._
    ClusterShelf.forget(spark, out, Seq(100L).toDF("doc_id"), "b100")
    val served = rows(ClusterShelf.served(spark, out))
    assert(served === rebuildMinus(tmp, Set(100L)))
    val byDoc = served.map(r => r._2 -> r._1).toMap
    // the SPLIT: A and B are separate components again — labels RAISED
    // for B's members (10, 11 back under 10), which no min fold could
    // express; the untouched cluster {50, 120} serves as before
    assert(byDoc.get(1L).contains(1L) && byDoc.get(2L).contains(1L))
    assert(byDoc.get(10L).contains(10L) && byDoc.get(11L).contains(10L),
      s"B must split back under its own canon: $served")
    assert(!byDoc.contains(100L))
    assert(byDoc.get(120L).contains(50L))
    // the replacement landed beside the untouched generations
    val names = out.resolve("labels").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(names.exists(_.startsWith("relabel-fb100-")), names.toSeq)
    assert(names.exists(_.startsWith("part-")) &&
      names.exists(_.startsWith("append-")),
      "the forget must not rewrite the base or append generations")
    assert(java.nio.file.Files.exists(out.resolve("relabel_nodes")))
    // idempotent per id set
    val names0 = names.sorted.toSeq
    ClusterShelf.forget(spark, out, Seq(100L).toDF("doc_id"), "b100")
    assert(out.resolve("labels").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq ===
      names0)
    // a SECOND forget refuses while a replacement is active: composing
    // raise-capable replacements under the min fold would resurrect
    // lowered labels
    val e = intercept[IllegalArgumentException] {
      ClusterShelf.forget(spark, out, Seq(1L).toDF("doc_id"), "b1")
    }
    assert(e.getMessage.contains("compact first"))
    DedupOps.deleteRecursively(tmp.toFile)
  }

  test("t43 × append: a post-forget append lowers INTO the replacement; t44 compaction is invisible and re-legalizes") {
    // the corpus gains a SECOND bridge (200 = A++B) that arrives only
    // AFTER the first bridge was forgotten: the append re-merges the
    // split components, and its relabel rows target nodes under the
    // active replacement — they must fold into the replacement side
    // (the plain generations are anti-joined away for those nodes)
    val tmp = java.nio.file.Files.createTempDirectory("t42_spec_")
    import spark.implicits._
    val stage = tmp.resolve("stage")
    Seq(
      (1L, tA), (2L, tA),
      (10L, tB), (11L, tB),
      (50L, tC),
      (100L, tA + " " + tB),
      (120L, tC),
      (200L, tA + " " + tB))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.toFile.listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, tmp.resolve("documents.parquet"))
    ClusterShelf.build(spark, tmp.toString, ClusterShelf.t42)
    ClusterShelf.append(spark, tmp.toString, ClusterShelf.t42, upTo = 150L)
    val out = ClusterShelf.path(spark, tmp.toString, ClusterShelf.t42)
    ClusterShelf.forget(spark, out, Seq(100L).toDF("doc_id"), "b100")
    // the second bridge arrives: A and B re-merge under 1 — a
    // LOWERING of nodes the replacement owns
    ClusterShelf.append(spark, tmp.toString, ClusterShelf.t42)
    val served = rows(ClusterShelf.served(spark, out))
    assert(served === rebuildMinus(tmp, Set(100L)),
      s"the post-forget append must serve the re-merged clusters: $served")
    assert(served.map(r => r._2 -> r._1).toMap.get(11L).contains(1L))
    // the lowered rows landed on the REPLACEMENT side, not in a plain
    // generation the read would anti-join away
    val names1 = out.resolve("labels").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(names1.exists(_.startsWith("relabel-a200-")), names1.toSeq)
    // t44: the fold bakes replacement + appends into one generation,
    // retires the key list and the member tombstones — invisibly
    assert(ClusterShelf.compact(spark, out))
    val names2 = out.resolve("labels").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(names2.forall(_.startsWith("compact-")), names2.toSeq)
    assert(!java.nio.file.Files.exists(out.resolve("relabel_nodes")))
    assert(rows(ClusterShelf.served(spark, out)) === served,
      "compaction must be invisible through the forget serve")
    // and the lifecycle continues: a NEXT forget is legal again
    ClusterShelf.forget(spark, out, Seq(200L).toDF("doc_id"), "b200")
    assert(rows(ClusterShelf.served(spark, out)) ===
      rebuildMinus(tmp, Set(100L, 200L)),
      "the post-compaction forget must split the re-merged component")
    DedupOps.deleteRecursively(tmp.toFile)
  }

  test("t45 retention: expired docs split components; lagging horizon no-ops; per-horizon idempotence; refusal until compaction") {
    // the id-span form (tsCol = doc_id) for deterministic horizons;
    // the event-time form (the md5-derived ingest_ts, NON-CONTIGUOUS
    // in id space) is hash-gated end-to-end by t45_cc_time_ageoff
    val tmp = craftCorpus()
    ClusterShelf.append(spark, tmp.toString, ClusterShelf.t45)
    val out = DedupOps.requireReady(
      ClusterShelf.path(spark, tmp.toString, ClusterShelf.t45))
    // LAGGING horizon (below every id): marker only — no tombstones,
    // no replacement (an empty relabel generation would refuse every
    // later forget for nothing), serve untouched
    ClusterShelf.ageOff(spark, out, 0L, tsCol = "doc_id")
    assert(java.nio.file.Files.exists(out.resolve("_FORGOTTEN_h0")))
    assert(!java.nio.file.Files.exists(out.resolve("relabel_nodes")),
      "a lagging horizon must not land a replacement")
    assert(rows(ClusterShelf.served(spark, out)) ===
      rebuildMinus(tmp, Set.empty))
    // horizon 2 expires {1, 2}: the bridged component {1,2,10,11,100}
    // SHRINKS and its label RAISES to 10 — exactly what a min-fold
    // tombstone cannot express and the component re-derivation can
    ClusterShelf.ageOff(spark, out, 2L, tsCol = "doc_id")
    val served = rows(ClusterShelf.served(spark, out))
    assert(served === rebuildMinus(tmp, Set(1L, 2L)))
    assert(served.map(r => r._2 -> r._1).toMap.get(11L).contains(10L),
      s"the surviving members must re-converge under the raised min: " +
        s"$served")
    // re-running yesterday's horizon short-circuits on its marker
    val names0 = out.resolve("labels").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    ClusterShelf.ageOff(spark, out, 2L, tsCol = "doc_id")
    assert(out.resolve("labels").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq ===
      names0, "a re-run horizon must be a marker no-op")
    // a FURTHER advance refuses while the replacement is active —
    // the nightly schedule is advance -> compact -> advance
    val e = intercept[IllegalArgumentException] {
      ClusterShelf.ageOff(spark, out, 10L, tsCol = "doc_id")
    }
    assert(e.getMessage.contains("compact first"))
    assert(ClusterShelf.compact(spark, out))
    ClusterShelf.ageOff(spark, out, 10L, tsCol = "doc_id")
    assert(rows(ClusterShelf.served(spark, out)) ===
      rebuildMinus(tmp, Set(1L, 2L, 10L)),
      "the post-compaction advance must serve the twice-aged survivors")
    DedupOps.deleteRecursively(tmp.toFile)
  }

  test("t45/t46 serve plans read only their artifacts — the corpus never rejoins a steady-state read") {
    // steady state = artifacts built, horizons/lists landed (marker
    // no-ops on re-serve): the returned plan must be an artifact-only
    // read — at 100 TB a retention/erasure SERVE that re-scans the
    // corpus would defeat the shelf's whole point
    val dir = "/root/testdata/sf0.001"
    val t45 = DedupOps.ccTimeAgeOff(spark, dir)
    t45.collect()
    val p45 = t45.queryExecution.executedPlan.toString
    assert(!p45.contains("documents.parquet"),
      s"t45 serve must never re-scan the corpus:\n$p45")
    assert(p45.contains("cc_index_t45"),
      "t45 serve must read the persisted cluster artifact")
    val t46 = DedupOps.ccTakedownExternal(spark, dir)
    t46.collect()
    val p46 = t46.queryExecution.executedPlan.toString
    assert(!p46.contains("documents.parquet"),
      s"t46 serve must never re-scan the corpus:\n$p46")
    assert(p46.contains("cc_index_t46"),
      "t46 serve must read the persisted cluster artifact")
    // t47: the fan-out's returned summary unions FOUR shelf reads —
    // every one must be artifact-only (the corpus scans live in the
    // maintenance legs, which marker-no-op on a steady-state re-call)
    val t47 = DedupOps.takedownFanout(spark, dir)
    t47.collect()
    val p47 = t47.queryExecution.executedPlan.toString
    assert(!p47.contains("documents.parquet") &&
      !p47.contains("events.parquet"),
      s"t47 summary must never re-scan a corpus table:\n$p47")
    Seq("band_members_t39", "media_members_m14", "cc_index_t46",
        "t47agg_rw").foreach { art =>
      assert(p47.contains(art),
        s"t47 summary must read the $art artifact:\n$p47")
    }
  }

  test("t46 external list: absent ids no-op, repeated ids idempotent, a second DIFFERENT list lands") {
    val tmp = craftCorpus()
    ClusterShelf.build(spark, tmp.toString, ClusterShelf.t46)
    ClusterShelf.append(spark, tmp.toString, ClusterShelf.t46)
    val out = DedupOps.requireReady(
      ClusterShelf.path(spark, tmp.toString, ClusterShelf.t46))
    import spark.implicits._
    // the t39 edge shape: the bridge 100, a REPEATED id, and an id
    // ABSENT from the corpus — the absent id must no-op (not error),
    // the duplicate must be idempotent
    val list1 = Seq(100L, 100L, 999L).toDF("doc_id")
    ClusterShelf.external(spark, out, list1)
    val served1 = rows(ClusterShelf.served(spark, out))
    assert(served1 === rebuildMinus(tmp, Set(100L)),
      s"only the present id's erasure may have an effect: $served1")
    // re-submitting the SAME list is a marker no-op (same fingerprint)
    val names0 = out.resolve("labels").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    ClusterShelf.external(spark, out, list1)
    assert(out.resolve("labels").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq ===
      names0)
    // …and so is a semantically equal list that differs only in
    // duplicate MULTIPLICITY (the fingerprint is over the distinct
    // sorted ids): with the replacement still active, a new
    // fingerprint would fail loudly with 'compact first' — a
    // re-submission must never do that
    ClusterShelf.external(spark, out,
      Seq(100L, 999L, 999L, 999L).toDF("doc_id"))
    assert(out.resolve("labels").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq ===
      names0)
    // a second DIFFERENT list must LAND (the q44/s16 compliance rule:
    // a shared marker would silently drop a new erasure request) —
    // after the compaction the refusal discipline demands
    assert(ClusterShelf.compact(spark, out))
    ClusterShelf.external(spark, out, Seq(120L).toDF("doc_id"))
    assert(rows(ClusterShelf.served(spark, out)) ===
      rebuildMinus(tmp, Set(100L, 120L)),
      "the second, different erasure list must take effect")
    DedupOps.deleteRecursively(tmp.toFile)
  }
}
