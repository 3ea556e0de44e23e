package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** t35 write-back contract: appending a delta tranche into the rw band
  * index is (1) EXACT — serve-after-append equals a from-scratch
  * rebuild over base+delta, because canon = min is merge-associative;
  * (2) idempotent — an absorbed tranche re-appends as a no-op (nonce
  * untouched); (3) crash-safe — the marker-last contract degrades a
  * mid-append crash to a rebuild, never to serving half-appended state;
  * and (4) LIVING — a later batch's duplicates of an EARLIER appended
  * batch flag through the updated index (probe → append → probe), the
  * property t34's read-only artifact cannot provide.
  */
class IndexAppendSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def rebuildOverFullCorpus(d: String) =
    DedupOps.bandedSignaturesOf(Tables(spark, d, "documents"))
      .groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("canon"))
      .orderBy(col("band"), col("sig"))
      .collect().map(_.toSeq.toVector).toSeq

  // the rw index's probe of its delta tranche `(_CUT, upTo]`
  private def rwIndexProbe(d: String, upTo: Long = Long.MaxValue) =
    BucketShelf.probe(spark, d, BucketShelf.t35,
      BucketShelf.delta(spark, d, BucketShelf.t35, upTo))
      .orderBy(col("doc_id"))

  test("t35 serve-after-append equals the from-scratch rebuild exactly") {
    val served = DedupOps.indexAppendServe(spark, dir)
      .collect().map(_.toSeq.toVector).toSeq
    assert(served === rebuildOverFullCorpus(dir))
    // after the append, _CUT sits at the corpus max: the whole tail is
    // absorbed, nothing remains unindexed
    val idx = BucketShelf.path(spark, dir, BucketShelf.t35)
    val hi = Tables(spark, dir, "documents")
      .agg(max(col("doc_id"))).head().getLong(0)
    assert(new String(Files.readAllBytes(idx.resolve("_CUT")), "UTF-8")
      .trim.toLong === hi)
    // and the bucket dir holds BOTH generations: the base build's part
    // files and the appended tranche's (the O(batch) LSM write — the
    // base relation was not rewritten)
    val names = idx.resolve("buckets").toFile.listFiles().map(_.getName)
    assert(names.exists(_.startsWith("part-")), "base build files missing")
    assert(names.exists(_.startsWith("append-")), "appended files missing")
  }

  test("t35 is idempotent: a second serve re-appends nothing (nonce untouched)") {
    DedupOps.indexAppendServe(spark, dir).collect()
    val marker =
      BucketShelf.path(spark, dir, BucketShelf.t35).resolve("_INDEX_READY")
    val nonce0 = new String(Files.readAllBytes(marker), "UTF-8")
    assert(nonce0.nonEmpty, "the marker must carry a nonce")
    val (warm, jobs) = jobsDuring(DedupOps.indexAppendServe(spark, dir))
    assert(jobs === 0, s"$jobs jobs before any action: the absorbed " +
      "tranche must be answered from _CUT and _HI")
    val again = warm.collect()
    assert(new String(Files.readAllBytes(marker), "UTF-8") === nonce0,
      "an absorbed tranche must re-append as a no-op")
    assert(again.nonEmpty)
  }

  test("t35 crash-safety: a marker-less (mid-append-crash) artifact rebuilds, never serves") {
    DedupOps.indexAppendServe(spark, dir).collect()
    val idx = BucketShelf.path(spark, dir, BucketShelf.t35)
    val marker = idx.resolve("_INDEX_READY")
    // simulate the crash window: the append removed the nonce and died
    // before re-stamping — the artifact is on disk but NOT ready
    Files.delete(marker)
    val served = DedupOps.indexAppendServe(spark, dir)
      .collect().map(_.toSeq.toVector).toSeq
    // the recovery path rebuilt from scratch (fresh nonce) and the
    // result is still exactly the full-corpus relation
    assert(Files.exists(marker) && Files.size(marker) > 0,
      "recovery must re-stamp a fresh nonce")
    assert(served === rebuildOverFullCorpus(dir))
  }

  test("t35 probe → append → probe: a batch-2 duplicate of a batch-1 doc flags via the UPDATED index") {
    // three tranches: base {1, 2}, batch 1 {100 (dup of base 1),
    // 101 (new)}, batch 2 {151 (dup of batch-1 101!), 152 (new)}.
    // midpoint cut = (1 + 152) / 2 = 76 → the build indexes {1, 2}.
    val tmp = Files.createTempDirectory("t35_spec_").toString
    import spark.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "quick brown foxes vault lazy hounds"),
      (151L, "quick brown foxes vault lazy hounds"),
      (152L, "planets orbit the bright distant star"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    BucketShelf.build(spark, tmp, BucketShelf.t35)
    // probe batch 1 against the base index: 100 flags against base 1
    val p1 = rwIndexProbe(tmp, upTo = 150L).collect()
    assert(p1.map(_.getAs[Long]("doc_id")).toSeq === Seq(100L), p1.toSeq)
    assert(p1.head.getAs[Long]("dup_of") === 1L)
    // absorb batch 1; _CUT advances to its max id
    assert(BucketShelf.append(spark, tmp, BucketShelf.t35, upTo = 150L) ===
      101L)
    // probe batch 2: 151's only twin is batch-1's 101 — flagging it is
    // possible ONLY because the append wrote 101's buckets back
    val p2 = rwIndexProbe(tmp).collect()
    assert(p2.map(_.getAs[Long]("doc_id")).toSeq === Seq(151L), p2.toSeq)
    assert(p2.head.getAs[Long]("dup_of") === 101L,
      "the batch-2 duplicate must resolve to the APPENDED batch-1 canon")
    // t34's read-only artifact is untouched by the write-back family:
    // its probe still answers from the base-tranche buckets alone
    val t34 = DedupOps.incrementalDedup(spark, tmp).collect()
    assert(t34.map(_.getAs[Long]("doc_id")).toSeq === Seq(100L),
      "t34's read-only gate must be unaffected by t35 appends")
    // absorbing batch 2 converges the living index on the full corpus
    BucketShelf.append(spark, tmp, BucketShelf.t35)
    val served = BucketShelf.served(spark, tmp, BucketShelf.t35)
      .orderBy(col("band"), col("sig"))
      .collect().map(_.toSeq.toVector).toSeq
    assert(served === rebuildOverFullCorpus(tmp))
  }

  test("m9 media write-back: serve-after-append equals the rebuild; nonce-idempotent") {
    val served = MultimodalOps.mediaIndexAppendServe(spark, dir)
      .collect().map(_.toSeq.toVector).toSeq
    val rebuild = MultimodalOps
      .mediaAhashOf(MultimodalOps.mediaTable(spark, dir)
        .select(col("doc_id"), col("payload")))
      .groupBy(col("ahash"))
      .agg(min(col("doc_id")).as("canon"))
      .orderBy(col("ahash"))
      .collect().map(_.toSeq.toVector).toSeq
    assert(served === rebuild)
    val idx = BucketShelf.path(spark, dir, BucketShelf.m9)
    val names = idx.resolve("buckets").toFile.listFiles().map(_.getName)
    assert(names.exists(_.startsWith("append-")),
      "the delta generation must be on disk as appended files")
    // absorbed tranche ⇒ the next serve re-appends nothing
    val marker = idx.resolve("_INDEX_READY")
    val nonce0 = new String(Files.readAllBytes(marker), "UTF-8")
    MultimodalOps.mediaIndexAppendServe(spark, dir).collect()
    assert(new String(Files.readAllBytes(marker), "UTF-8") === nonce0)
    // and the m8 read-only artifact still carries the BASE cut — the
    // write-back family never touches it
    val hi = Tables(spark, dir, "documents")
      .agg(max(col("doc_id"))).head().getLong(0)
    assert(new String(Files.readAllBytes(idx.resolve("_CUT")), "UTF-8")
      .trim.toLong === hi)
    BucketShelf.build(spark, dir, BucketShelf.m8)
    val roCut = new String(Files.readAllBytes(
      BucketShelf.path(spark, dir, BucketShelf.m8).resolve("_CUT")),
      "UTF-8").trim.toLong
    assert(roCut < hi, "m8's read-only index must keep the base cut")
  }

  test("q35/q36 partials write-back: the appended artifact serves exactly what the read-only families serve") {
    // q35's folded artifact must publish q33's aggregate exactly (the
    // cent partials merge associatively — append ≡ rebuild)
    val q35 = Relational.q35AggAppend(spark, dir)
      .collect().map(_.toSeq.toVector).toSeq
    val q33 = Relational.q33IncrementalAgg(spark, dir)
      .collect().map(_.toSeq.toVector).toSeq
    assert(q35 === q33)
    // q36's folded sketches must estimate EXACTLY what q34's
    // merge-at-read path estimates (union is register-wise max —
    // folding it into the artifact is invisible)
    val q36est = PartialsShelf.serve(spark, dir, PartialsShelf.q36)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val q34est = PartialsShelf.serve(spark, dir, PartialsShelf.q34)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(q36est === q34est)
    assert(Relational.q36SketchAppend(spark, dir).collect()
      .forall(_.getAs[Boolean]("within_err")))
    // both artifacts carry the advanced watermark and the appended
    // generation as their own files; nonce idempotency on re-serve
    Seq(PartialsShelf.path(spark, dir, PartialsShelf.q35),
        PartialsShelf.path(spark, dir, PartialsShelf.q36)).foreach { idx =>
      val hi = Tables(spark, dir, "events")
        .agg(max(col("ts"))).head().getLong(0)
      assert(new String(Files.readAllBytes(idx.resolve("_CUT")), "UTF-8")
        .trim.toLong === hi, s"$idx: _CUT must sit at the data max")
      val names = idx.resolve("partials").toFile.listFiles().map(_.getName)
      assert(names.exists(_.startsWith("append-")),
        s"$idx: appended generation missing")
      assert(names.exists(_.startsWith("part-")),
        s"$idx: base generation missing")
    }
    val marker = PartialsShelf.path(spark, dir, PartialsShelf.q35)
      .resolve("_INDEX_READY")
    val nonce0 = new String(Files.readAllBytes(marker), "UTF-8")
    Relational.q35AggAppend(spark, dir).collect()
    assert(new String(Files.readAllBytes(marker), "UTF-8") === nonce0,
      "an absorbed tranche must re-append as a no-op")
  }

  test("t36 compaction is invisible in the result and drops the appended generations") {
    // serve BEFORE compaction (raw two-generation read, min-merged):
    // build + append on t36's own artifact, captured pre-compaction.
    // The artifact persists across sbt runs — start from scratch so
    // the pre-compaction two-generation state really exists
    val out = BucketShelf.path(spark, dir, BucketShelf.t36)
    DedupOps.deleteRecursively(out.toFile)
    BucketShelf.build(spark, dir, BucketShelf.t36)
    BucketShelf.append(spark, dir, BucketShelf.t36)
    def serve() = spark.read.parquet(out.resolve("buckets").toString)
      .groupBy(col("band"), col("sig"))
      .agg(min(col("canon")).as("canon"))
      .orderBy(col("band"), col("sig"))
      .collect().map(_.toSeq.toVector).toSeq
    val before = serve()
    val namesBefore = out.resolve("buckets").toFile.listFiles().map(_.getName)
    assert(namesBefore.exists(_.startsWith("append-")),
      "pre-compaction state must hold an appended generation")
    val cut0 = DedupOps.cutOf(out)
    // compact: one fresh generation, byte-identical serve, _CUT intact
    assert(BucketShelf.compact(spark, dir, BucketShelf.t36),
      "an artifact holding appends must compact")
    assert(serve() === before,
      "compaction must be invisible in the served relation")
    val namesAfter = out.resolve("buckets").toFile.listFiles().map(_.getName)
    assert(!namesAfter.exists(_.startsWith("append-")),
      "compaction must drop every append-* file")
    assert(namesAfter.count(_.startsWith("compact-")) > 0 &&
      namesAfter.count(_.endsWith(".parquet")) < namesBefore.count(_.endsWith(".parquet")),
      s"the generation fold must shrink the file count: " +
        s"${namesBefore.length} -> ${namesAfter.length}")
    assert(DedupOps.cutOf(out) === cut0,
      "compaction changes layout, never the watermark")
    // converged artifact: a second compaction is a structural no-op
    val marker = out.resolve("_INDEX_READY")
    val nonce0 = new String(Files.readAllBytes(marker), "UTF-8")
    assert(!BucketShelf.compact(spark, dir, BucketShelf.t36),
      "no appended generation -> compaction must no-op")
    assert(new String(Files.readAllBytes(marker), "UTF-8") === nonce0)
    // and the registered gate serves the full-corpus relation (t35's
    // oracle) from the compacted artifact — without the corpus ever
    // rejoining the plan
    val gatedDf = DedupOps.indexCompactServe(spark, dir)
    val gated = gatedDf.collect().map(_.toSeq.toVector).toSeq
    assert(gated === rebuildOverFullCorpus(dir))
    val plan = gatedDf.queryExecution.executedPlan.toString
    assert(plan.contains("band_index_t36") &&
      !plan.contains("documents.parquet"),
      s"the converged t36 serve must be artifact-only:\n$plan")
  }

  test("t36 crash mid-compaction degrades to rebuild; appends resume after compaction") {
    // the t35 fixture's three tranches on a private corpus: base {1,2},
    // batch 1 {100, 101}, batch 2 {151, 152}
    val tmp = Files.createTempDirectory("t36_spec_").toString
    import spark.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "quick brown foxes vault lazy hounds"),
      (151L, "quick brown foxes vault lazy hounds"),
      (152L, "planets orbit the bright distant star"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = BucketShelf.path(spark, tmp, BucketShelf.t36)
    BucketShelf.build(spark, tmp, BucketShelf.t36)
    BucketShelf.append(spark, tmp, BucketShelf.t36, upTo = 150L)
    assert(BucketShelf.compact(spark, tmp, BucketShelf.t36))
    // an append RESUMES against the compacted base from the same _CUT
    assert(DedupOps.cutOf(out) === 101L)
    BucketShelf.append(spark, tmp, BucketShelf.t36, upTo = Long.MaxValue)
    val names = out.resolve("buckets").toFile.listFiles().map(_.getName)
    assert(names.exists(_.startsWith("compact-101")) &&
      names.exists(_.startsWith("append-152")) &&
      !names.exists(_.startsWith("part-")),
      s"post-compaction append must land NEXT TO the compacted base: " +
        names.toSeq.sorted.mkString(", "))
    // crash window: marker removed mid-compaction — the gate must
    // degrade to a full rebuild, never serve the half-compacted dir
    Files.delete(out.resolve("_INDEX_READY"))
    val served = DedupOps.indexCompactServe(spark, tmp)
      .collect().map(_.toSeq.toVector).toSeq
    assert(served === rebuildOverFullCorpus(tmp))
    assert(Files.size(out.resolve("_INDEX_READY")) > 0,
      "recovery must re-stamp a fresh nonce")
  }

  test("t40 auto-compact fires exactly above the threshold; serve byte-identical; _CUT untouched by the fold") {
    // the t35 fixture corpus: base {1, 2} (mid = 76), batch 1
    // {100, 101}, batch 2 {151, 152}
    val tmp = Files.createTempDirectory("t40_spec_").toString
    import spark.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "quick brown foxes vault lazy hounds"),
      (151L, "quick brown foxes vault lazy hounds"),
      (152L, "planets orbit the bright distant star"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = BucketShelf.path(spark, tmp, BucketShelf.t40)
    BucketShelf.build(spark, tmp, BucketShelf.t40)
    assert(Generations.count(out.resolve("buckets")) === 1)
    // append 1 → two generations: AT the threshold, the policy must
    // NOT fire (fold only when count exceeds it)
    BucketShelf.append(spark, tmp, BucketShelf.t40, upTo = 110L,
      autoCompactMax = 2)
    val names1 = out.resolve("buckets").toFile.listFiles().map(_.getName)
    assert(Generations.count(out.resolve("buckets")) === 2)
    assert(!names1.exists(_.startsWith("compact-")) &&
      names1.exists(_.startsWith("append-101")) &&
      names1.exists(_.startsWith("part-")), names1.toSeq.sorted)
    // append 2 → three generations > 2: the commit itself triggers the
    // fold — one fresh compacted base, _CUT still the append's own cut
    BucketShelf.append(spark, tmp, BucketShelf.t40, upTo = Long.MaxValue,
      autoCompactMax = 2)
    val names2 = out.resolve("buckets").toFile.listFiles().map(_.getName)
    assert(Generations.count(out.resolve("buckets")) === 1, names2.toSeq.sorted)
    assert(names2.forall(n => !n.endsWith(".parquet") ||
      n.startsWith("compact-152")), names2.toSeq.sorted)
    assert(DedupOps.cutOf(out) === 152L,
      "the policy fold must never move the watermark")
    // the registered gate serves the full-corpus relation regardless
    // of where in the append/fold cycle the artifact sits
    assert(DedupOps.autoCompactServe(spark, tmp)
      .collect().map(_.toSeq.toVector).toSeq === rebuildOverFullCorpus(tmp))
    // converged: re-serving appends nothing and folds nothing
    val nonce0 = new String(Files.readAllBytes(
      out.resolve("_INDEX_READY")), "UTF-8")
    DedupOps.autoCompactServe(spark, tmp).collect()
    assert(new String(Files.readAllBytes(
      out.resolve("_INDEX_READY")), "UTF-8") === nonce0)
    // crash window anywhere in the append/auto-fold cycle leaves a
    // marker-less directory — the gate must degrade to rebuild (and
    // replay the policy appends), never serve half-folded state
    Files.delete(out.resolve("_INDEX_READY"))
    assert(DedupOps.autoCompactServe(spark, tmp)
      .collect().map(_.toSeq.toVector).toSeq === rebuildOverFullCorpus(tmp))
    assert(Files.size(out.resolve("_INDEX_READY")) > 0,
      "recovery must re-stamp a fresh nonce")
  }

  test("t40: the tranche cuts ride in the marker-last build; a torn _TRANCHES is rebuilt, not served") {
    // the t35 fixture corpus: lo = 1, hi = 152 → base cut 76, tranche
    // cuts at the thirds of (76, 152]: 101 and 126
    val tmp = Files.createTempDirectory("t40_torn_").toString
    import spark.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "quick brown foxes vault lazy hounds"),
      (151L, "quick brown foxes vault lazy hounds"),
      (152L, "planets orbit the bright distant star"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // the build alone persists the cuts, before its readiness marker
    val out = BucketShelf.build(spark, tmp, BucketShelf.t40)
    assert(new String(Files.readAllBytes(out.resolve("_TRANCHES")), "UTF-8")
      .trim === "101 126")
    DedupOps.autoCompactServe(spark, tmp).collect()
    // a crash inside the _TRANCHES write: the file is empty and no
    // readiness marker was stamped — the next call rebuilds
    Files.write(out.resolve("_TRANCHES"), Array.emptyByteArray)
    Files.delete(out.resolve("_INDEX_READY"))
    assert(DedupOps.autoCompactServe(spark, tmp)
      .collect().map(_.toSeq.toVector).toSeq === rebuildOverFullCorpus(tmp))
    assert(new String(Files.readAllBytes(out.resolve("_TRANCHES")), "UTF-8")
      .trim === "101 126")
  }

  test("commitArtifactAppend retry clears the crashed attempt's whole generation first") {
    // a crashed append can leave MORE part files for a generation than
    // the retry writes (different partitioning); the retry must clear
    // the generation before moving its own files in, or a SUM-merge
    // family (q35) would silently double-count the leftovers
    val out = Files.createTempDirectory("commit_retry_")
    val dst = out.resolve("buckets")
    Files.createDirectories(dst)
    import spark.implicits._
    // the "crashed attempt": two stale files for generation 200
    Files.write(dst.resolve("append-200-000.parquet"), "stale".getBytes)
    Files.write(dst.resolve("append-200-001.parquet"), "stale".getBytes)
    // the retry's tmp relation: ONE part file
    val tmp = out.resolve("tmp_retry")
    Seq((1L, "x")).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    DedupOps.commitArtifactAppend(out, tmp, 200L)
    val gen = dst.toFile.listFiles().map(_.getName)
      .filter(_.startsWith("append-200")).sorted
    assert(gen.toSeq === Seq("append-200-000.parquet"),
      s"retry must leave exactly its own generation files: ${gen.toSeq}")
    // and the survivor is the retry's real parquet, not a stale stub
    assert(spark.read.parquet(dst.resolve("append-200-000.parquet")
      .toString).count() === 1L)
  }

  // plan pins live HERE, not in PlanSpec: t35 mutates its artifact, and
  // the crash-safety test above rebuilds it — a parallel suite probing
  // the same directory would race the rebuild's rm
  test("t35 plans: probe pushes the cut to the delta scan; serve reads only the artifact") {
    DedupOps.indexAppendServe(spark, dir).collect()
    val serve = BucketShelf.served(spark, dir, BucketShelf.t35)
      .queryExecution.executedPlan.toString
    assert(serve.contains("band_index_rw_"),
      "serve must read the persisted artifact")
    assert(!serve.contains("documents.parquet"),
      s"serve must never re-scan the corpus:\n$serve")
    val probe = rwIndexProbe(dir)
      .queryExecution.executedPlan.toString
    assert(probe.contains(
      "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,"),
      s"the _CUT watermark must push to the documents scan:\n$probe")
    assert("documents\\.parquet".r.findAllIn(probe).size <= 1,
      s"the probe must scan the corpus once (delta only):\n$probe")
  }

  test("t34 SQL-text surface equals the DataFrame probe; view hygiene (no clobber, no leak)") {
    // a user's SAME-NAMED view must survive the statement (the text
    // path suffixes its views with a per-invocation serial), and the
    // catalog must hold nothing new afterwards
    spark.sql("CREATE OR REPLACE TEMP VIEW t34_documents AS SELECT 7 AS x")
    val before = spark.catalog.listTables().collect()
      .map(_.name).toSet
    val viaSql = DedupOps.incrementalDedupSql(spark, dir).collect()
      .map(_.toSeq.toVector).toSeq
    val viaDf = DedupOps.incrementalDedup(spark, dir).collect()
      .map(_.toSeq.toVector).toSeq
    assert(viaSql === viaDf,
      "the SQL-text probe must land on the identical flags")
    assert(spark.catalog.listTables().collect().map(_.name).toSet ===
      before, "the text path must drop its serial-suffixed views")
    assert(spark.sql("SELECT x FROM t34_documents").head().getInt(0) === 7,
      "a same-named user view must never be clobbered")
    spark.catalog.dropTempView("t34_documents")
    ()
  }
}
