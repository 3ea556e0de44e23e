package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Engine-side invariants for the round-10 sketch operators on
  * sf0.001 — the DuckDB oracles gate cross-engine parity; these pin
  * the algebra the oracles can't see: the bloom prefilter's
  * no-false-negative identity and the MinHash audit's internal
  * consistency.
  */
class SketchGateSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("t24: bloom-prefiltered result is identical to the exact join") {
    graft.functions.TextHashes.register(spark)
    // the exact no-sketch computation, t15's broadcast shape at 4-grams
    def grams(src: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(src(col("source")))
        .withColumn("words", split(col("text"), " "))
        .filter(size(col("words")) >= 4)
        .select(col("doc_id"), explode(expr("xx_ngrams(words, 4)")).as("g"))
    val exact = grams(_ === "src0").select(col("g")).distinct()
      .join(grams(_ =!= "src0"), Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bloomed = TextOps.bloomDecontaminate(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bloomed === exact)
    assert(bloomed.nonEmpty, "fixture exercises no contamination")
  }

  test("t24: the sketch prefilter actually prunes the corpus side") {
    graft.functions.TextHashes.register(spark)
    graft.functions.BloomFunctions.register(spark)
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 4)
      .select(col("source"), explode(expr("xx_ngrams(words, 4)")).as("g"))
    val sketch = d.filter(col("source") === "src0").select(col("g")).distinct()
      .agg(expr("bloom_agg(g, CAST(1000000 AS BIGINT), " +
        "CAST(8000000 AS BIGINT))")).head.getAs[Array[Byte]](0)
    val corpus = d.filter(col("source") =!= "src0")
    val total = corpus.count()
    val kept = corpus
      .filter(call_function("bloom_might_contain", lit(sketch), col("g")))
      .count()
    // at 8M bits over a few hundred holdout grams the fpp is ~0: the
    // map-side prefilter must drop the overwhelming share of grams
    // BEFORE any exchange — the property that makes t24 the 100 TB
    // shape of t15
    assert(kept < total / 2,
      s"bloom kept $kept of $total corpus grams — no pruning")
    assert(kept > 0)
  }

  test("t32: CMS estimates never undercount and sit inside the stated ε bound") {
    val (rows, total) = TextOps.heavyHitterAudit(spark, dir)
    assert(rows.length === TextOps.HeavyHitterK)
    assert(total > 0)
    val bound = math.ceil(TextOps.CmsEps * total).toLong
    rows.foreach { case (tok, exact, est) =>
      assert(tok.nonEmpty && exact > 0)
      // the one-sided CMS guarantee: never an undercount...
      assert(est >= exact, s"'$tok': CMS $est under exact $exact — the " +
        "sketch and the point query hash differently")
      // ...and the overcount is within ε·N (w.p. ≥ confidence per
      // query; 30 queries against a 20,000-wide sketch over this
      // corpus's vocabulary leave enormous slack)
      assert(est <= exact + bound,
        s"'$tok': CMS $est exceeds exact $exact + ε·N $bound")
    }
    // the gated column is this audit verbatim — all-true on this corpus
    val gated = TextOps.heavyHitters(spark, dir).collect()
    assert(gated.length === TextOps.HeavyHitterK)
    assert(gated.forall(_.getAs[Boolean]("within_eps")))
    // top-k really is the exact total order (count desc, token asc)
    val cnts = gated.map(r => (-r.getAs[Long]("cnt"), r.getAs[String]("token")))
    assert(cnts.toSeq === cnts.sorted.toSeq)
  }

  test("q34: history-partial + delta merge is BIT-IDENTICAL to single-pass sketching") {
    // sketch union distributes exactly over set union, so maintenance
    // must be invisible not just within the error bound but in the
    // ESTIMATE ITSELF: merging the persisted history sketches with the
    // delta's equals sketching the full table in one pass
    val singlePass = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("user_id"), PartialsShelf.LgConfigK)).as("est"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val merged = PartialsShelf.serve(spark, dir, PartialsShelf.q34)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(merged.keySet === singlePass.keySet)
    merged.foreach { case (key, est) =>
      assert(est === singlePass(key),
        s"$key: merged estimate $est != single-pass ${singlePass(key)} — " +
          "maintenance must be invisible in the sketch itself")
    }
    val gated = Relational.q34IncrementalDistinct(spark, dir).collect()
    assert(gated.nonEmpty)
    assert(gated.forall(_.getAs[Boolean]("within_err")),
      "every merged estimate must sit inside the documented 3·RSE bound")
    // the maintenance state is on disk: per-key partials + the _CUT
    // watermark (the q33 artifact layout)
    val hists = new java.io.File("target").listFiles()
      .filter(_.getName.startsWith("q34_hll_"))
    assert(hists.nonEmpty, "the history-partials artifact must persist")
    assert(hists.exists(h =>
      new java.io.File(h, "_CUT").exists() &&
        new java.io.File(h, "partials/_SUCCESS").exists()))
  }

  test("q34: a history build torn inside its _CUT write is rebuilt, not served") {
    val tmp = java.nio.file.Files.createTempDirectory("q34_torn_").toString
    import spark.implicits._
    val base = 1_000_000_000_000_000L
    Seq((0L, "A", 1L), (3L, "A", 2L), (6L, "B", 3L), (9L, "B", 1L))
      .map { case (sec, k, u) => (base + sec * 1000000000L, k, u) }
      .toDF("ts", "event_type", "user_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    def served() = PartialsShelf.serve(spark, tmp, PartialsShelf.q34)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val est = served()
    // a crash after the partials landed but inside the _CUT write: the
    // file is empty and no readiness marker was stamped
    val out = PartialsShelf.path(spark, tmp, PartialsShelf.q34)
    java.nio.file.Files.write(out.resolve("_CUT"), Array.emptyByteArray)
    java.nio.file.Files.deleteIfExists(out.resolve("_INDEX_READY"))
    assert(served() === est)
    assert(est === Map("A" -> 2L, "B" -> 2L))
  }

  test("q40 re-sketch retraction touches ONLY the affected keys; untouched sketches are byte-identical; flat fold refused") {
    // crafted corpus, BIGINT-nanos ts, span 10 s → build cut at 5 s,
    // retraction window (4 s, 6 s]. "A": events at 1/5/9 s — affected,
    // survivors {u1, u3}; "B": 0/2/10 s — UNTOUCHED (no event in the
    // window); "C": 4.5/5.5 s — fully retracted, must ghost-drop.
    val tmp = java.nio.file.Files.createTempDirectory("q40_spec_").toString
    import spark.implicits._
    val base = 1_000_000_000_000_000L
    def at(sec: Double): Long = base + (sec * 1e9).toLong
    Seq(
      (at(1.0), "A", 1L), (at(5.0), "A", 2L), (at(9.0), "A", 3L),
      (at(0.0), "B", 10L), (at(2.0), "B", 10L), (at(10.0), "B", 11L),
      (at(4.5), "C", 20L), (at(5.5), "C", 21L))
      .toDF("ts", "event_type", "user_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    // stage base + append, snapshot the base generations' BYTES
    PartialsShelf.append(spark, tmp, PartialsShelf.q40)
    val out = PartialsShelf.path(spark, tmp, PartialsShelf.q40)
    def md5(p: java.nio.file.Path): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(java.nio.file.Files.readAllBytes(p))
        .map("%02x".format(_)).mkString
    def baseFiles() = out.resolve("partials").toFile.listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("resketch-"))
      .map(f => f.getName -> md5(f.toPath)).sortBy(_._1).toSeq
    val snapshot = baseFiles()
    val served = Relational.q40SketchRetract(spark, tmp).collect()
    // ghost key C is gone; A re-sketched over survivors; B untouched
    assert(served.map(r => (r.getString(0), r.getAs[Long]("n_exact")))
      .toSeq === Seq(("A", 2L), ("B", 2L)), served.toSeq)
    assert(served.forall(_.getAs[Boolean]("within_err")))
    // NO silent global re-sketch: every base generation file is
    // byte-identical to its pre-retraction snapshot
    assert(baseFiles() === snapshot,
      "the retraction must never rewrite untouched generations")
    // the resketch generation carries rows ONLY for keys with
    // survivors (A), while the key-drop relation names every affected
    // key (A and the fully-retracted C)
    val reFiles = out.resolve("partials").toFile.listFiles()
      .filter(_.getName.startsWith("resketch-")).map(_.toString)
    assert(reFiles.nonEmpty, "the resketch generation must land")
    val reKeys = spark.read.parquet(reFiles.toIndexedSeq: _*)
      .select(col("event_type")).collect().map(_.getString(0)).sorted
    assert(reKeys.toSeq === Seq("A"), reKeys.toSeq)
    val dropKeys = spark.read
      .parquet(out.resolve("resketch_keys").toString)
      .collect().map(_.getString(0)).sorted
    assert(dropKeys.toSeq === Seq("A", "C"), dropKeys.toSeq)
    // a flat fold would re-add the rows the resketch replaces — the
    // shared compaction must refuse, loudly
    intercept[IllegalArgumentException] {
      DedupOps.compactArtifact(spark, out, rel = "partials")(df => df)
    }
    // idempotent: a second serve short-circuits on _RESKETCHED
    val again = Relational.q40SketchRetract(spark, tmp).collect()
    assert(again.map(_.toSeq.toVector).toSeq ===
      served.map(_.toSeq.toVector).toSeq)
    assert(baseFiles() === snapshot)
  }

  test("q40: a warm serve reads its persisted retraction window, no bounds scan") {
    val est = Relational.q40SketchRetract(spark, dir)
      .collect().map(_.toSeq.toVector).toSeq
    val (warm, jobs) = jobsDuring(Relational.q40SketchRetract(spark, dir))
    // no job before any action: the append sees the tranche absorbed
    // from _CUT and _HI, the partials read declares its schemas, and
    // the window's bounds come from the artifact's _WINDOW (the
    // delta high-watermark agg, three footer inferences and an events
    // min/max scan there made it seven)
    assert(jobs === 0, s"$jobs jobs before any action")
    assert(warm.collect().map(_.toSeq.toVector).toSeq === est)
  }

  test("q42: a post-resketch append folds affected keys INTO the replacement; plain append refuses") {
    // crafted corpus, BIGINT-nanos ts, span [0 s, 10 s] → window
    // (4 s, 6 s], tranche cut 7 s. "click" hashes EVEN (affected);
    // "purchase" hashes ODD (untouched). u2's only click falls in the
    // window (retracted); u3 exists ONLY in the post-resketch tranche
    // — the user the r17 footgun silently dropped; u6 lands in the
    // pre-resketch history append of an affected key (its generation
    // is anti-joined away, so the resketch must carry it).
    val tmp = java.nio.file.Files.createTempDirectory("q42_spec_").toString
    import spark.implicits._
    val lo = 1_000_000_000_000_000L
    def at(sec: Double): Long = lo + (sec * 1e9).toLong
    Seq(
      (at(0.0), "click", 1L), (at(5.0), "click", 2L),
      (at(6.5), "click", 6L), (at(8.0), "click", 3L),
      (at(8.5), "click", 1L),
      (at(0.0), "purchase", 1L), (at(5.0), "purchase", 4L),
      (at(6.5), "purchase", 7L), (at(8.0), "purchase", 5L),
      (at(10.0), "purchase", 1L))
      .toDF("ts", "event_type", "user_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    PartialsShelf.resketchMidIngest(spark, tmp, PartialsShelf.q42)
    // THE STALENESS RULE, EXECUTABLE: once the replacement generation
    // exists, a plain append of a non-empty delta must refuse loudly —
    // its affected-key rows would be silently anti-joined away
    val e = intercept[IllegalArgumentException] {
      PartialsShelf.append(spark, tmp, PartialsShelf.q42)
    }
    assert(e.getMessage.contains("resketch"))
    // the resketch-aware append is the sanctioned path
    PartialsShelf.append(spark, tmp, PartialsShelf.q42, aware = true)
    // exact at these cardinalities: click = {u1, u6, u3} (u2 retracted,
    // u3/u1 from the POST-resketch tranche, u6 from the replaced
    // history-append generation), purchase = {u1, u4, u7, u5}
    val est = PartialsShelf.serve(spark, tmp, PartialsShelf.q42)
      .orderBy(col("event_type"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(est === Seq(("click", 3L), ("purchase", 4L)),
      s"the post-resketch tranche must count on BOTH key classes: $est")
    // layout: untouched keys' tranche merged NORMALLY (append-*) while
    // affected keys' landed as a SECOND resketch-* generation
    val names = PartialsShelf.path(spark, tmp, PartialsShelf.q42)
      .resolve("partials")
      .toFile.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    assert(names.count(_.startsWith("resketch-")) === 2, names.toSeq)
    assert(names.count(_.startsWith("append-")) === 2, names.toSeq)
    // the gate's audit shape stays green end-to-end
    val gate = Relational.q42ResketchAppend(spark, tmp)
      .collect().map(_.toSeq.toVector).toSeq
    assert(gate === Seq(
      Vector("click", 3L, true), Vector("purchase", 4L, true)), gate)
    // and the flat fold still refuses on the composed artifact
    intercept[IllegalArgumentException] {
      DedupOps.compactArtifact(spark,
        PartialsShelf.path(spark, tmp, PartialsShelf.q42),
        rel = "partials")(df => df)
    }
    // ---- q43: the REPLACEMENT-AWARE compaction bakes the
    // replacement in. Staged on q43's own family over the same
    // crafted corpus: serve-before ≡ serve-after, layout folds to ONE
    // generation, the key list retires (plain appends legal again),
    // _RESKETCHED survives (the retract never re-runs), and a second
    // compaction no-ops.
    PartialsShelf.resketchMidIngest(spark, tmp, PartialsShelf.q43)
    PartialsShelf.append(spark, tmp, PartialsShelf.q43, aware = true)
    val out43 = PartialsShelf.path(spark, tmp, PartialsShelf.q43)
    assert(PartialsShelf.compact(spark, tmp, PartialsShelf.q43))
    val gate43 = Relational.q43ResketchCompact(spark, tmp)
      .collect().map(_.toSeq.toVector).toSeq
    assert(gate43 === gate, "compaction must be invisible in the serve")
    val names43 = out43.resolve("partials").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(names43.forall(_.startsWith("compact-")) &&
      names43.nonEmpty, names43.toSeq)
    assert(!java.nio.file.Files.exists(out43.resolve("resketch_keys")),
      "the baked-in replacement must retire the key list")
    assert(java.nio.file.Files.exists(out43.resolve("_RESKETCHED")),
      "the applied-retraction record must survive the fold")
    assert(!PartialsShelf.compact(spark, tmp, PartialsShelf.q43),
      "a compacted artifact must no-op")
    // the shared flat fold no longer refuses (no replacement left) and
    // correctly reports nothing to fold
    assert(!DedupOps.compactArtifact(spark, out43, rel = "partials")(
      df => df))
    ()
  }

  test("t23: audit covers every LSH candidate pair, consistently") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val nCand = DedupOps.minhashPairsOf(d).count()
    val audit = SketchAuditRows.of(spark, dir)
    assert(audit.length.toLong === nCand,
      "audit dropped or duplicated candidate pairs")
    audit.foreach { case (a, b, est, jac, err) =>
      assert(a < b)
      assert(est >= 0.0 && est <= 1.0)
      assert(jac >= 0.0 && jac <= 1.0)
      // abs_err is literally |est - jaccard| on the rounded values
      assert(math.abs(err - math.abs(est - jac)) < 1e-9)
      // min-hash agreement implies a genuinely shared shingle: an
      // est > 0 with exact intersection 0 would witness a hash
      // collision (the case the left join keeps visible)
      assert(!(est > 0.0 && jac == 0.0),
        s"pair ($a, $b): est $est but empty exact intersection")
    }
    // the corpus is near-dup-heavy by construction: the audit must
    // see real agreement, not an empty candidate set
    assert(audit.exists(_._4 > 0.5))
  }
}

/** Collected t23 rows, shared by assertions. */
private object SketchAuditRows {
  def of(s: org.apache.spark.sql.SparkSession, dir: String)
      : Array[(Long, Long, Double, Double, Double)] =
    DedupOps.sketchAudit(s, dir).collect().map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("est_jaccard"), r.getAs[Double]("jaccard"),
        r.getAs[Double]("abs_err")))
}
