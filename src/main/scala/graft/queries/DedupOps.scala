package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Near-duplicate detection for a training-data pipeline, over the
  * `documents` / `embeddings` tables: MinHash+LSH, SimHash with
  * hamming-block candidate generation, and coarse-blocked embedding
  * cosine. All hashing is `md5`-derived so every query has an exact
  * DuckDB oracle (`H(s)` = first 32 hex chars... first 8 hex chars of
  * md5 as a 32-bit integer — identical in both engines).
  *
  * Scale design (100 TB):
  *  - MinHash signatures are one hash-shuffle per doc (12 mins in a
  *    single groupBy — no row explosion per seed); LSH banding turns
  *    the quadratic all-pairs problem into an equi-join on (band,
  *    signature) buckets, the standard shuffle-friendly formulation.
  *  - SimHash fingerprints are one groupBy with 32 conditional sums;
  *    candidate pairs come from the 4×8-bit pigeonhole blocks (any
  *    pair with hamming ≤ 3 shares a block), again an equi-join.
  *  - Embedding near-dup blocks on corpus-scaled k-means cells
  *    (SemDeDup-style): only within-cell pairs are scored, so the join
  *    shuffles on the cell id instead of crossing the corpus, and the
  *    cell count grows with n so per-cell work stays constant.
  */
object DedupOps {

  /** Serial for per-invocation checkpoint paths: overlapping
    * [[connectedComponentsOf]] calls in one app must never share
    * spill files. */
  private val ccInvocations = new java.util.concurrent.atomic.AtomicLong(0)

  /** Final label checkpoints this JVM has written, swept when the
    * owning SparkContext ends: per-invocation paths fixed the overlap
    * bug but would otherwise leak one parquet directory per big-graph
    * invocation FOREVER (a bench session runs each gate query several
    * times). Deleting on the NEXT invocation instead would break the
    * spec-pinned overlap contract — a caller may still hold a prior
    * invocation's lazy result while a new one runs — so the dirs stay
    * readable for the whole session and die with it. */
  private[queries] val ccFinalCheckpoints =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val ccSweepRegistered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.SparkContext, java.lang.Boolean]())

  private def registerCcSweep(s: SparkSession): Unit =
    ccSweepRegistered.computeIfAbsent(s.sparkContext, sc => {
      val conf = sc.hadoopConfiguration
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          val it = ccFinalCheckpoints.iterator()
          while (it.hasNext) {
            val p = new org.apache.hadoop.fs.Path(it.next())
            try p.getFileSystem(conf).delete(p, true)
            catch { case _: java.io.IOException => () } // best-effort sweep
            it.remove()
          }
        }
      })
      java.lang.Boolean.TRUE
    })

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** Portable 32-bit hash (DuckDB side). */
  private def h32d(e: String): String =
    s"(('0x' || substr(md5($e), 1, 8))::BIGINT)"

  /** Distinct 3-word shingles per doc (shared with t6). */
  private[queries] def shinglesOf(d: DataFrame): DataFrame =
    d.withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(words) - 3), " +
          "i -> concat_ws(' ', slice(words, i + 1, 3)))")).as("shingle"))
      .distinct()

  private val NumHashes = graft.functions.TextHashes.NumHashes
  private val BandSize = 2
  private val NumBands = NumHashes / BandSize

  /** Universal-hash family constants — owned by
    * [[graft.functions.TextHashes]] (the fused kernel embeds them);
    * aliased here because the DuckDB oracle SQL below embeds the same
    * literals. */
  private val HashPrime = graft.functions.TextHashes.HashPrime
  private[queries] lazy val hashParams: IndexedSeq[(Long, Long)] =
    graft.functions.TextHashes.hashParams

  /** MinHash candidate pairs with estimated Jaccard over any (doc_id,
    * text) set — the LSH core shared by t7, the t10 pipeline, and
    * t13's edge derivation.
    *
    * Signature computation is entirely MAP-ONLY: `min` is insensitive
    * to duplicates, so no per-doc shingle distinct is needed at all,
    * and the 12 mins are `array_min` folds over the per-document
    * shingle-hash array — the shingle rows are never exploded and
    * never shuffled (the old shape paid a string-distinct exchange
    * plus a groupBy(doc_id) exchange before the first banding step).
    * The only shuffle in the whole operator is one explicit
    * repartition on the band-join key, which both join sides reuse
    * (guarded by CacheLifecycleSpec + PlanSpec's reuse-or-broadcast
    * check). One md5 per shingle *occurrence* (vs per distinct
    * occurrence before) — strictly cheaper than the exchanges it
    * replaces. The oracle computes mins over DISTINCT shingles;
    * identical by min's idempotence. The full 12-hash signature rides
    * through the band explode as one array column, so signature
    * agreement is computed directly on the join output — no re-join
    * back to the signatures. */
  /** Map-only banded MinHash signatures: `(doc_id, sig_arr, band,
    * sig)` — the LSH bucket key stream shared by the batch pair join
    * below and [[graft.streaming.IngestDedup]] (which keys bucket
    * state by (band, sig) on an unbounded stream). Works unchanged on
    * a streaming DataFrame: every step is a per-row projection. */
  private[graft] def bandedSignaturesOf(d: DataFrame): DataFrame = {
    graft.functions.TextHashes.register(d.sparkSession)
    // fused native kernel: one compiled loop per document computes all
    // 12 mins — no per-shingle hex strings, no interpreted
    // higher-order lambdas (12 transform() folds before); values are
    // bit-identical to the conv(substr(md5)) SQL formulation the
    // oracle keeps (TextHashesSpec asserts the equivalence directly)
    val sig = d.withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), expr("minhash_sig(words)").as("sig_arr"))
    val bandStructs = (0 until NumBands).map { b =>
      val key = (0 until BandSize).map(r => s"sig_arr[${b * BandSize + r}]")
        .mkString("concat_ws(':', ", ", ", ")")
      expr(s"struct($b AS band, $key AS sig)")
    }
    sig.select(col("doc_id"), col("sig_arr"),
      explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("sig_arr"), col("bs.band"), col("bs.sig"))
  }

  /** Per-bucket candidate cap for the LSH band join (t7) and the
    * SimHash block join (t8): a bucket larger than this splits into
    * ⌈cnt/cap⌉ sub-buckets by `doc_id % ⌈cnt/cap⌉` — the
    * [[cellBlockedPairs]] idiom — bounding the worst-case per-block
    * pair count at O(cap²) even under total bucket collapse (a
    * degenerate corpus of mass-identical documents previously made
    * one (band, sig) bucket O(B²) with B unbounded). The split is
    * deterministic, and — since round 11 — modeled IN THE ORACLES
    * too (`bsz`/`bsub` CTEs interpolating this default cap across
    * the t7/t8/m6/t10/t13/t23/t29 statements), so the gates stay
    * exact at any corpus size; at the driver's sf0.01 (500 docs) no
    * bucket reaches the cap and the split is the identity anyway.
    *
    * Documented trade (same as t9's cell cap): pairs CROSSING two
    * sub-buckets of one oversized bucket are not emitted from that
    * bucket. For t7 a true near-dup pair collides independently in up
    * to [[NumBands]] bands, so recall degrades gracefully; for a
    * mass-identical corpus the principled pipeline runs exact dedup
    * (t2) BEFORE near-dup — exactly how t10 composes — after which no
    * oversized bucket exists. Overridable via `graft.lsh.bucketCap`
    * (the adversarial spec lowers it to exercise the split at toy
    * scale). */
  private[graft] val LshBucketCap = 1000
  private[queries] def bucketCap(s: SparkSession): Int =
    s.conf.get("graft.lsh.bucketCap", LshBucketCap.toString).toInt

  /** The DuckDB oracles interpolate the COMPILE-TIME [[LshBucketCap]]
    * into their `bsz`/`bsub`/`ksz`/`ksub` CTEs; a gate run with
    * `graft.lsh.bucketCap` overridden and any bucket above the
    * effective cap would silently diverge from the oracle. Every
    * oracle-gated entry point that sub-buckets asserts the two agree —
    * a mismatch fails loudly instead of hash-mismatching downstream.
    * (The adversarial cap spec exercises overrides through the
    * non-gated helpers, which stay conf-driven.) */
  private[queries] def requireOracleCap(s: SparkSession): Unit = {
    val eff = bucketCap(s)
    require(eff == LshBucketCap,
      s"graft.lsh.bucketCap=$eff differs from the oracle's compile-time " +
        s"$LshBucketCap: the gated result could diverge from its oracle")
  }

  private[queries] def minhashPairsOf(d: DataFrame): DataFrame = {
    // The explicit repartition is load-bearing: the signature subtree
    // is map-only all the way from the scan, so without an exchange of
    // its own AQE may satisfy the self-join by BROADCASTING one side —
    // which recomputes the whole scan+md5 pipeline for the build side
    // (measured: t7 warm 1.1 -> 1.9 s at sf0.1). Shuffling once on the
    // join key makes both sides reuse a single materialization, and
    // AQE remains free to broadcast *from the shuffle output* (map
    // stage still runs once).
    val cap = bucketCap(d.sparkSession)
    val bands = bandedSignaturesOf(d).repartition(col("band"), col("sig"))
    // Bucket sizes aggregate over the SAME (band, sig) exchange the
    // join consumes (partial map-side count, no new shuffle — the
    // rareShinglesOf shape), and the size join + the sub-bucketed
    // self-join below are all satisfied by that one partitioning:
    // HashPartitioning(band, sig) clusters (band, sig, sub) too.
    val sizes = bands.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("cnt"))
    val sub = bands.join(sizes, Seq("band", "sig"))
      .withColumn("sub", col("doc_id") % ceil(col("cnt") / lit(cap.toDouble)))
      .select(col("doc_id"), col("sig_arr"), col("band"), col("sig"),
        col("sub"))
    sub.as("a")
      .join(sub.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.sub") === col("b.sub") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        round(expr("aggregate(zip_with(a.sig_arr, b.sig_arr, " +
          "(x, y) -> IF(x = y, 1, 0)), 0, (s, v) -> s + v)").cast("double")
          / NumHashes, 6).as("est_jaccard"))
      .distinct()
  }

  /** t7: MinHash signatures → LSH banding → candidate pairs → estimated
    * Jaccard (signature agreement fraction). Top-20. */
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    requireOracleCap(s)
    minhashPairsOf(docs(s, dir))
      .orderBy(col("est_jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** t23: sketch-accuracy AUDIT — for every LSH candidate pair, the
    * MinHash-ESTIMATED Jaccard (signature agreement, what t7 ships)
    * next to the EXACT distinct-3-shingle Jaccard and the absolute
    * error. A sketch a 100 TB dedup pipeline trusts needs a measured
    * error profile, and the audit is cheap at any scale because the
    * exact computation runs ONLY on the candidate pairs the sketch
    * itself surfaced — per-pair cost ∝ shingle count, never all-pairs.
    *
    * Plan shape: the candidate set reuses [[minhashPairsOf]]'s single
    * (band, sig) exchange; the exact intersection is two keyed joins
    * (pair → doc_a's shingles → doc_b's matching shingles) and one
    * map-side-combined count; sizes are one groupBy over the same
    * shingle stream. The left join keeps a zero-intersection
    * candidate visible (est > 0 with exact = 0 would be the worst
    * possible sketch error — exactly what an audit must not drop);
    * min-hash agreement implies a shared shingle, so such a row also
    * witnesses a hash collision. */
  def sketchAudit(s: SparkSession, dir: String): DataFrame = {
    requireOracleCap(s)
    val d = docs(s, dir)
    val cand = minhashPairsOf(d)
    val sh = TextOps.hashedShinglesOf(d)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = cand.select(col("doc_a"), col("doc_b"))
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.sh") === col("sb.sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    cand
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .withColumn("ni", coalesce(col("n_inter"), lit(0L)))
      .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
      .withColumn("jaccard", round(col("ni").cast("double") /
        (col("za.n_sh") + col("zb.n_sh") - col("ni")).cast("double"), 6))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        col("jaccard"),
        round(abs(col("est_jaccard") - col("jaccard")), 6).as("abs_err"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** t10: the composed cleaning pipeline a training-data corpus runs —
    * quality filter → exact dedup (keep lowest doc_id per digest) →
    * near-dup removal (drop the higher id of every MinHash candidate
    * pair with est ≥ 0.5). Emits the surviving doc ids. Three stages,
    * three keyed shuffles, no driver-side loops — the shape scales
    * linearly with corpus size. */
  def cleanCorpus(s: SparkSession, dir: String): DataFrame = {
    requireOracleCap(s)
    val d = docs(s, dir)
    val quality = d
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_tokens", size(col("words")).cast("long"))
      .withColumn("uniq_ratio",
        round(expr("size(array_distinct(words))").cast("double") /
          col("n_tokens").cast("double"), 6))
      .filter(col("n_tokens").between(15, 90) && col("uniq_ratio") >= 0.15)
      .select(col("doc_id"), col("text"))
    // `deduped` feeds both the MinHash pipeline and the final
    // anti-join; its digest-groupBy exchange canonicalizes identically
    // in both branches, so exchange reuse runs the quality filter +
    // digest groupBy once per execution — no persist to leak.
    val deduped = quality
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
      .join(d.select(col("doc_id"), col("text")), Seq("doc_id"))
    val nearDupLosers = minhashPairsOf(deduped)
      .filter(col("est_jaccard") >= 0.5)
      .select(col("doc_b").as("doc_id"))
      .distinct()
    deduped.select(col("doc_id"))
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Connected components over an undirected edge list (`doc_a`,
    * `doc_b`) by min-label propagation: every node's label converges to
    * the smallest doc_id reachable from it. Two passes:
    *
    *  1. *Discovery* — a DataFrame loop with explicit persist/
    *     unpersist finds the converged round count R. Each round is
    *     one keyed join + `min` hash aggregate (codegen'd, map-side
    *     partials), fully distributed; convergence is a scalar sum
    *     check (labels only ever decrease, so the label sum is
    *     strictly monotone until fixpoint — no diff join needed).
    *     Every intermediate is unpersisted before return: the
    *     operator leaves no blocks behind (CacheLifecycleSpec).
    *  2. *Rebuild* — the returned DataFrame is a fully lazy R-round
    *     unrolled plan over the same edges: each round joins the
    *     self-looped symmetric edge list (shuffled by `dst`) against
    *     the previous labels and takes `min(label)` per `src`. The
    *     edge-list exchange is identical in every round, so AQE
    *     reuses one shuffle; the expensive edge *derivation* (e.g.
    *     the MinHash pipeline) executes once per action, not once per
    *     round.
    *
    * R = graph diameter. Near-dup graphs are unions of near-cliques
    * (LSH buckets), so R is 2-4 in practice; for adversarial
    * long-chain graphs the same join shape supports the
    * large-star/small-star alternation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14), which converges in
    * O(log² n) rounds — not needed for this workload and kept simple
    * here. */
  private[queries] def connectedComponentsOf(s: SparkSession,
      edges: DataFrame, memoKey: String = null): DataFrame =
    ccClustersOf(ccConvergedLabelsDf(s, edges, memoKey))

  /** The converged `(node, label)` relation, memoized per (session,
    * key) — the expensive part (an EAGER discovery loop of joins +
    * min-aggregate actions); like t9's centroid memo, registry callers
    * key it by the immutable table directory so repeated actions in
    * one session (bench reps, downstream consumers) pay only the
    * cluster-assembly tail. The memoized value holds no Spark blocks —
    * a driver-local relation for small graphs, a swept
    * parquet-checkpoint scan for big ones — so `clearCache()`
    * semantics are unchanged (CacheLifecycleSpec). Shared by the
    * in-query t13 path and the t33 index BUILD. */
  private[graft] def ccConvergedLabelsDf(s: SparkSession,
      edges: DataFrame, memoKey: String): DataFrame =
    ccMaterialize(s,
      if (memoKey == null) ccConvergedLabels(s, edges)
      else {
        val m = ccLabelMemo.computeIfAbsent(s, _ =>
          new java.util.concurrent.ConcurrentHashMap[String, CcLabels]())
        // computed OUTSIDE the map's bin lock: the discovery loop runs
        // eager Spark actions (minutes at fleet scale) and a
        // computeIfAbsent would block a concurrent t13 on a DIFFERENT
        // key hashing to the same bin for the whole computation
        // (parallel suites share one session). A racing duplicate is
        // benign — idempotent values; putIfAbsent keeps the winner
        // (the loser's checkpoint dir, if any, is swept at app end).
        val cur = m.get(memoKey)
        if (cur != null) cur
        else {
          val computed = ccConvergedLabels(s, edges)
          val prev = m.putIfAbsent(memoKey, computed)
          if (prev != null) prev else computed
        }
      })

  /** The cluster-assembly tail over a converged `(node, label)`
    * relation — size join + canonical flag + presentation order. ONE
    * implementation serves the in-query path (t13) and the artifact
    * serve path (t33), so the two are bit-equal by construction. */
  private def ccClustersOf(lab: DataFrame): DataFrame = {
    val sizes = lab.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    lab.join(sizes, Seq("label"))
      .select(col("label").as("cluster_id"), col("node").as("doc_id"),
        col("cluster_size"), (col("node") === col("label")).as("keep"))
      .orderBy(col("cluster_id"), col("doc_id"))
  }

  /** Session-INDEPENDENT converged-labels value: driver-local rows for
    * small graphs, a parquet checkpoint path for big ones. The memos
    * store this rather than a DataFrame so an entry holds no reference
    * back to its SparkSession — a DataFrame value (via its
    * QueryExecution) would pin the weakly-keyed session for the JVM
    * lifetime, defeating the WeakHashMap. */
  private sealed trait CcLabels
  private final case class CcLocal(
      schema: org.apache.spark.sql.types.StructType,
      rows: java.util.List[org.apache.spark.sql.Row]) extends CcLabels
  private final case class CcParquet(path: String) extends CcLabels

  private def ccMaterialize(s: SparkSession, l: CcLabels): DataFrame =
    l match {
      // coalesce(1): a driver-local label relation is ≤ localEdgeMax
      // rows by construction, but createDataFrame plans it at
      // defaultParallelism — a base build writing it landed 32
      // near-empty part files per labels relation, and every later
      // generation listing/scan paid for them (r21 profiling: a
      // 99-path parallel listing JOB per t42CurrentRows read). One
      // partition costs nothing here (any downstream shuffle restores
      // parallelism) and keeps artifact file counts O(generations).
      case CcLocal(schema, rows) => s.createDataFrame(rows, schema).coalesce(1)
      case CcParquet(path) => s.read.parquet(path)
    }

  /** One converged-labels value per (session, input key) — see the
    * memo rationale on [[connectedComponentsOf]] and the identical
    * idiom on [[nearDupAssign]]'s centroid memo. Values are
    * [[CcLabels]] (session-free); keys carry a [[pathFingerprint]] so
    * a regenerated input can never serve stale labels. */
  private val ccLabelMemo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, CcLabels]]())

  /** Cheap content fingerprint of a table path (recursive file count,
    * total length, max mtime), folded into memo keys: the registry's
    * input dirs are immutable for a session today, but nothing
    * enforces that — a caller regenerating parquet under the same
    * path must miss the memo, not read stale labels/centroids. */
  private[graft] def pathFingerprint(s: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      val it = fs.listFiles(p, true)
      var n = 0L; var len = 0L; var mt = 0L
      while (it.hasNext) {
        val f = it.next()
        n += 1; len += f.getLen; mt = math.max(mt, f.getModificationTime)
      }
      s"$n:$len:$mt"
    }
  }

  private def ccConvergedLabels(s: SparkSession,
      edges: DataFrame): CcLabels = {
    // --- FAST PATH: a small edge set converges on the DRIVER. The
    // distributed loop below pays several Spark actions PER ROUND
    // (persist + label-sum + pointer jump), each with fixed job
    // overhead — measured ~20 s for a 227-node merge graph at
    // local[32], i.e. pure scheduling, zero compute. Below the
    // threshold ONE action collects the edges and a union-find with
    // path compression labels every component with its min member —
    // identical semantics (min-label fixpoint), microseconds of
    // driver CPU, no persisted blocks. This is the CcLocal doctrine
    // applied one stage earlier, and it is what makes the per-batch
    // merge graphs (t42/s18: O(batch + touched labels), hundreds of
    // edges) viable inside a micro-batch. At fleet scale (t13's 25 M
    // LSH pairs) the limit+collect probe overflows the threshold and
    // the distributed loop runs unchanged.
    val localMax = s.conf.get("graft.cc.localEdgeMax", "200000").toInt
    // the probe EXECUTES the (possibly expensive) edge derivation —
    // for t13's ~25M LSH pairs the pair generation's map side would
    // otherwise run once for the probe and again for the loop, so the
    // casted edges persist FIRST and both paths read the cache; every
    // exit (local result, loop finally) drops the blocks
    val edgesCached = edges
      .select(col("doc_a").cast("long").as("doc_a"),
        col("doc_b").cast("long").as("doc_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a failing probe (corrupt input, cancelled job) must not strand
    // the cache for the session — the leak-free invariant holds on
    // every exit, exceptional ones included. ONE FUSED job both sizes
    // the graph and (for the common per-batch case) ships the edges:
    // each task fully drains its partition (materializing the cache —
    // never wasted: both the local fast path and the distributed loop
    // read it) and returns its true count plus its edges capped at a
    // per-partition budget that bounds the driver's receive at
    // ~localMax rows total (§5: the cap is what keeps a fleet-scale
    // 25M-edge probe from becoming a full collect). History: the
    // original limit+collect probe paid CollectLimit's incremental
    // partition rounds; its r21 replacement (count, then collect)
    // still paid TWO fixed-overhead jobs per CC invocation — the
    // dominant per-batch cost of the streamed cluster gates
    // (s18/s19/s20) and of every forget's re-derivation. Now: one job
    // in the common case; a truncated-but-small (skewed) graph pays
    // one extra collect of the already-cached blocks; an over-
    // threshold graph proceeds to the distributed loop as before.
    val (edgeCount, fusedEdges) =
      try {
        import s.implicits._
        val ds = edgesCached.as[(Long, Long)]
        val nParts = math.max(1, ds.rdd.getNumPartitions)
        val capPer = math.max(64L, (localMax.toLong + 1) / nParts)
        val parts = ds.rdd.mapPartitions { it =>
          var n = 0L
          val buf = new scala.collection.mutable.ArrayBuffer[Long](128)
          while (it.hasNext) {
            val e = it.next()
            n += 1
            if (n <= capPer) { buf += e._1; buf += e._2 }
          }
          Iterator.single((n, if (n <= capPer) buf.toArray else null))
        }.collect()
        val total = parts.iterator.map(_._1).sum
        val complete = total <= localMax && parts.forall(_._2 != null)
        (total, if (complete) parts.iterator.flatMap(_._2).toArray else null)
      } catch { case t: Throwable =>
        edgesCached.unpersist(blocking = true); throw t }
    if (edgeCount <= localMax) try {
      // skew fallback: small in total but one partition overflowed its
      // budget — re-read the blocks the fused job just materialized
      val flat: Array[Long] =
        if (fusedEdges != null) fusedEdges
        else {
          val rows = edgesCached.collect()
          val a = new Array[Long](rows.length * 2)
          var i = 0
          rows.foreach { r => a(i) = r.getLong(0); a(i + 1) = r.getLong(1)
            i += 2 }
          a
        }
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (parent.get(c) != r) { val n = parent.get(c)
          parent.put(c, r); c = n }
        r
      }
      var ei = 0
      while (ei < flat.length) {
        val a = flat(ei); val b = flat(ei + 1); ei += 2
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val (ra, rb) = (find(a), find(b))
        // union toward the SMALLER root: the root stays the running
        // component min, so no second pass is needed
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("label",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](
        parent.size())
      val it = parent.keySet().iterator()
      while (it.hasNext) {
        val n = it.next()
        rows.add(org.apache.spark.sql.Row(n, find(n)))
      }
      return CcLocal(schema, rows)
    } finally edgesCached.unpersist(blocking = true)
    // --- discovery: how many rounds until the labels stop moving?
    // A DataFrame loop (Tungsten joins + hash aggregates), not RDDs:
    // the round-7 rewrite of the original RDD loop — same persist/
    // unpersist discipline, but each round's keyed join and min-
    // aggregate run codegen'd with map-side partials instead of
    // Java-serialized shuffles (fleet t13 at 25 M edges: the RDD loop
    // was the dominant cost).
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val symDf = edgesCached
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edgesCached
        .select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val nodes = symDf.select(col("src")).distinct()
    val withSelf = symDf.union(nodes.select(col("src"), col("src").as("dst")))
    // one materialization of the (possibly expensive) edge derivation
    // feeds every discovery round
    val symCached = withSelf.persist(lvl)
    var labels = symCached.select(col("src").as("node"))
      .distinct().withColumn("label", col("node")).persist(lvl)
    var prop: DataFrame = null
    def labelSum(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(col("label"))).head.getLong(0)
    try {
      // one action materializes the initial labels AND answers the
      // empty-graph, fast-path, and convergence-baseline questions
      val init = labels.agg(sum(col("label")), count(lit(1))).head
      val nNodes = init.getLong(1)
      val emptyGraph = nNodes == 0L
      var prevSum = if (emptyGraph) 0L else init.getLong(0)
      // small graphs (node count under the threshold — so the label
      // table is bounded) cut lineage through a driver-local relation
      // instead of a parquet respill: same hard cut, no filesystem
      // round-trip. t13's gate graphs are hundreds of nodes, so the
      // registry never pays the checkpoint I/O; fleet-scale graphs
      // take the distributed spill path unchanged.
      val small = nNodes <=
        s.conf.get("graft.cc.smallGraphMaxNodes", "100000").toLong
      def localSpill(df: DataFrame): DataFrame =
        s.createDataFrame(df.collectAsList(), df.schema)
      // spill/checkpoint paths are keyed by a per-invocation counter on
      // top of the applicationId: two overlapping invocations in one
      // app (parallel suites, a caller holding a prior lazy result)
      // must never scan each other's files
      val ckptBase = s.conf.get("graft.checkpointDir", "target/graft_ckpt") +
        "/cc_labels_" + s.sparkContext.applicationId +
        "_" + ccInvocations.incrementAndGet()
      var rounds = 0
      var converged = emptyGraph
      while (!converged && rounds < 60) {
        // 1-hop neighbor min, then ONE pointer jump (label(label(v)),
        // "hash-to-min" shortcutting): rounds track log2(diameter), not
        // diameter — a plain 1-hop loop silently mislabeled any
        // component wider than the round cap (pinned by the 150-chain
        // spec), and its per-round lineage growth blew up plan-tree
        // traversal long before that.
        prop = symCached.as("e")
          .join(labels.as("l"), col("e.dst") === col("l.node"))
          .groupBy(col("e.src"))
          .agg(min(col("l.label")).as("label"))
          .withColumnRenamed("src", "node")
          .persist(lvl)
        val jumped = prop.as("p")
          .join(prop.select(col("node").as("ln"), col("label").as("l2")).as("j"),
            col("p.label") === col("j.ln"), "left")
          .select(col("p.node").as("node"),
            least(col("p.label"), coalesce(col("j.l2"), col("p.label")))
              .as("label"))
        // every 4 rounds the labels respill — a hard lineage cut
        // (parquet on alternating paths for big graphs, a local
        // relation for small ones; never overwrite the file a live
        // plan is reading). The cadence is load-bearing: the jump
        // references `prop` twice, so the ANALYZED plan doubles its
        // nodes per round within a segment — 4-round segments (16×)
        // are fine, 8-round segments (256×) already blow up
        // plan-string generation.
        val next =
          if (rounds % 4 == 3) {
            if (small) localSpill(jumped)
            else {
              val spill = ckptBase + s"_loop${rounds % 8 / 4}"
              jumped.write.mode("overwrite").parquet(spill)
              s.read.parquet(spill)
            }
          } else jumped.persist(lvl)
        val sum = labelSum(next)
        // async is safe mid-loop: `next` is already materialized, so
        // the dropped blocks have no remaining reader; only the FINAL
        // unpersists below must block (CacheLifecycleSpec reads
        // getPersistentRDDs right after a sweep)
        prop.unpersist(blocking = false)
        prop = null
        labels.unpersist(blocking = false)
        labels = next
        if (sum == prevSum) converged = true
        else { prevSum = sum; rounds += 1 }
      }
      if (!converged)
        throw new IllegalStateException(
          "connected components did not converge within 60 doubling rounds " +
            "(component diameter would exceed 2^60 — malformed input?)")
      // --- result: the converged labels ARE the answer — spill them
      // once (parquet checkpoint + plain scan for big graphs, the
      // GraphX iteration-checkpoint idiom; a local relation for small
      // ones) so the returned plan re-derives nothing. The previous
      // lazy R-round rebuild re-derived the edge input (for t13: the
      // full MinHash-LSH pair generation) R more times per action —
      // at fleet scale that re-derivation dominated the operator.
      // Nothing persisted survives (CacheLifecycleSpec); the location
      // is configurable for cluster deployments (HDFS/S3 path).
      val lab: CcLabels =
        if (emptyGraph)
          // no edges: an empty result with the checkpoint's scan schema
          CcLocal(nodes.select(col("src").as("node"), col("src").as("label"))
            .schema, java.util.Collections.emptyList())
        else if (small) CcLocal(labels.schema, labels.collectAsList())
        else {
          labels.write.mode("overwrite").parquet(ckptBase)
          // the loop spills are dead once the final labels land; the
          // final checkpoint itself stays readable for the session
          // (callers may hold the lazy result) and is swept when the
          // SparkContext ends
          ccFinalCheckpoints.add(ckptBase)
          registerCcSweep(s)
          val conf = s.sparkContext.hadoopConfiguration
          Seq("_loop0", "_loop1").foreach { sfx =>
            val p = new org.apache.hadoop.fs.Path(ckptBase + sfx)
            p.getFileSystem(conf).delete(p, true)
          }
          CcParquet(ckptBase)
        }
      lab
    } finally {
      // the leak-free invariant holds on EVERY exit path (convergence
      // throw, spill failure): nothing this operator persisted may
      // outlive it and skew later queries
      if (prop != null) prop.unpersist(blocking = true)
      labels.unpersist(blocking = true)
      symCached.unpersist(blocking = true)
      edgesCached.unpersist(blocking = true)
    }
  }

  /** t13: near-duplicate cluster assembly — the step a cleaning
    * pipeline runs after pair generation. t10 drops the higher id of
    * each candidate *pair*, which over-deletes on transitive chains
    * (a~b, b~c deletes both b and c even though c may only resemble
    * b); clustering first keeps exactly one canonical doc per
    * *component*. Edges are the MinHash-LSH pairs at the same ≥ 0.5
    * threshold t10 uses; output is one row per clustered doc with its
    * component id (min member), component size, and whether it is the
    * kept canonical. Docs with no near-duplicate are not emitted
    * (singleton clusters are the uninteresting common case). */
  def nearDupClusters(s: SparkSession, dir: String): DataFrame = {
    requireOracleCap(s)
    connectedComponentsOf(s, t13Edges(s, dir), memoKey = t13MemoKey(s, dir))
  }

  /** t13's edge set (MinHash-LSH pairs at the ≥ 0.5 threshold) and its
    * session-memo key — shared by the in-query path and the t33 index
    * build so both converge the identical graph. */
  private def t13Edges(s: SparkSession, dir: String): DataFrame =
    minhashPairsOf(docs(s, dir))
      .filter(col("est_jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"))

  private def t13MemoKey(s: SparkSession, dir: String): String =
    s"t13:$dir@${pathFingerprint(s, s"$dir/documents.parquet")}"

  /** The shared persisted-artifact idiom (v17's contract), ONE
    * implementation for every index family (v17 ANN, v19 kNN cells,
    * t33 CC labels, t34 band buckets, m8 media hashes):
    * [[artifactDir]] folds the caller's input-fingerprinted key into
    * the directory name (a regenerated input re-builds instead of
    * serving stale state, and a FRESH session finds a current
    * artifact by recomputing the same name); [[ensureArtifact]]
    * short-circuits on a present NON-EMPTY `_INDEX_READY` marker
    * (per-build nonce — content-checkable idempotency even on
    * coarse-mtime filesystems), otherwise clears the directory, runs
    * `build`, and writes the nonce marker LAST — a crash mid-build
    * leaves a marker-less (rebuildable) directory, never a
    * half-written "ready" one. */
  private[graft] def artifactDir(prefix: String, key: String)
      : java.nio.file.Path = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    val p = java.nio.file.Paths.get("target", s"${prefix}_$hex")
      .toAbsolutePath
    // recorded so the build can stamp `_KEY` (the housekeeping sweep
    // adjudicates staleness from it — see [[sweepStaleArtifacts]])
    artifactKeys.put(p, key)
    p
  }

  // path → the key it hashes; written into each built artifact as
  // `_KEY` so a later session can tell a live artifact (its key's
  // fingerprint still matches the staged corpus) from a stale one
  private val artifactKeys =
    new java.util.concurrent.ConcurrentHashMap[java.nio.file.Path, String]

  // one lock PER artifact path — scope: THIS JVM only. Unrelated
  // families (the ANN index and the CC labels, say) build concurrently
  // while two same-JVM callers racing on the SAME artifact serialize
  // (suites here share one forked JVM). It never reaches across
  // processes; cross-process same-artifact races remain possible and
  // accepted — the marker-last contract makes a racing rebuild
  // wasteful, not wrong (the nonce only ever stamps a COMPLETE build;
  // a multi-process deployment would add a FileLock on the artifact
  // dir). Cross-process concurrent READS during an append/compaction
  // mutation window are likewise out of scope — serve paths assert
  // the marker via [[requireReady]] so the common overlap fails
  // loudly rather than serving half-mutated state, but the
  // check-then-read gap remains (see requireReady's doc). Entries
  // are never removed; growth is bounded by the number of distinct
  // artifacts.
  private val artifactLocks =
    new java.util.concurrent.ConcurrentHashMap[java.nio.file.Path, Object]

  private[graft] def artifactLock(out: java.nio.file.Path): Object =
    artifactLocks.computeIfAbsent(out, _ => new Object)

  /** Thrown by a conditional commit whose `_CUT` precondition failed:
    * another writer advanced the watermark between this writer's read
    * and its commit — the delta was computed against a stale cut and
    * must be recomputed. Retryable by construction
    * ([[retryOnConflict]]); committing anyway would either regress
    * `_CUT` (later appends re-absorb the gap — double count) or stamp
    * a generation the watermark doesn't cover (silent hole). */
  private[graft] final class ArtifactConflict(msg: String)
    extends RuntimeException(msg)

  /** Re-run a read-compute-commit cycle when its conditional commit
    * loses the race. The BODY must re-read `_CUT` itself — that is
    * the point of the retry. */
  private[graft] def retryOnConflict[T](attempts: Int = 5)(body: => T): T = {
    var left = attempts
    var out: Option[T] = None
    while (out.isEmpty) {
      try out = Some(body)
      catch {
        case e: ArtifactConflict =>
          left -= 1
          if (left <= 0) throw e
      }
    }
    out.get
  }

  private def leaseTtlMs: Long =
    sys.props.get("graft.artifact.leaseTtlMs").map(_.toLong)
      .getOrElse(600000L)
  private def leaseWaitMs: Long =
    sys.props.get("graft.artifact.leaseWaitMs").map(_.toLong)
      .getOrElse(120000L)

  /** CROSS-PROCESS mutation lease on an artifact directory — the gap
    * [[artifactLock]] cannot close: that lock is a per-path in-process
    * object, so two mutating DRIVERS (production's nightly shape —
    * several jobs appending to one shared living index) could
    * interleave a read-compute-commit cycle and lose a generation or
    * double-advance `_CUT`. The lease is a `_LEASE` file created
    * atomically (`CREATE_NEW` — the filesystem's test-and-set);
    * holders that die leave a lease whose mtime goes stale and any
    * waiter older than the TTL breaks it (the artifact itself stays
    * consistent under the marker-last contract — a broken-lease
    * half-mutation is marker-less and degrades to rebuild). Waiters
    * spin with a bounded timeout: surfacing a stuck lease loudly
    * beats queueing mutations invisibly. TTL/wait are
    * system-property-tunable (`graft.artifact.leaseTtlMs` /
    * `leaseWaitMs`) so specs can pin the break/timeout paths without
    * ten-minute sleeps. */
  private[graft] def withArtifactLease[T](out: java.nio.file.Path)(
      body: => T): T = {
    java.nio.file.Files.createDirectories(out)
    val lease = out.resolve("_LEASE")
    val nonce = ProcessHandle.current().pid().toString + "@" +
      java.util.UUID.randomUUID().toString
    val deadline = System.nanoTime() + leaseWaitMs * 1000000L
    var acquired = false
    while (!acquired) {
      try {
        java.nio.file.Files.write(lease, nonce.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        acquired = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val age =
            try System.currentTimeMillis() -
              java.nio.file.Files.getLastModifiedTime(lease).toMillis
            catch { case _: java.io.IOException => -1L }
          if (age > leaseTtlMs) {
            // stale: the holder died mid-mutation. Two waiters racing
            // the break is fine — deleteIfExists + CREATE_NEW elects
            // exactly one next holder.
            java.nio.file.Files.deleteIfExists(lease)
            ()
          } else if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              s"could not acquire $lease within ${leaseWaitMs} ms — " +
                "a live mutator holds it (or raise " +
                "graft.artifact.leaseTtlMs if its holder is known dead)")
          else Thread.sleep(25)
      }
    }
    try body
    finally {
      // release only OUR lease: a TTL break may have handed the file
      // to another holder while we ran (we were presumed dead)
      try {
        if (java.nio.file.Files.exists(lease) &&
            new String(java.nio.file.Files.readAllBytes(lease),
              "UTF-8") == nonce)
          java.nio.file.Files.delete(lease)
      } catch { case _: java.io.IOException => () }
    }
  }

  private[graft] def ensureArtifact(out: java.nio.file.Path)(
      build: => Unit): String = artifactLock(out).synchronized {
    val marker = out.resolve("_INDEX_READY")
    def ready = java.nio.file.Files.exists(marker) &&
      java.nio.file.Files.size(marker) > 0
    // fast path stays lease-free: a built artifact is immutable until
    // a mutator takes the lease, so the marker check alone suffices
    if (!ready) withArtifactLease(out) {
      // another process may have finished the build while we waited
      if (!ready) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        Option(out.toFile.listFiles()).foreach(
          _.filter(_.getName != "_LEASE").foreach(rm))
        // a REBUILD at this path may change a relation's schema (the
        // membersCarryTs flip is the live example) — drop any schema
        // memos under this directory so the next readStable re-infers
        // instead of serving the prior build's schema
        invalidateSchemaMemo(out)
        build
        java.nio.file.Files.createDirectories(out)
        java.nio.file.Files.write(out.resolve("_KEY"),
          Option(artifactKeys.get(out)).getOrElse("").getBytes("UTF-8"))
        java.nio.file.Files.write(marker,
          System.nanoTime().toString.getBytes("UTF-8"))
      }
    }
    out.toString
  }

  /** HOUSEKEEPING: delete artifact directories whose fingerprint no
    * longer matches the staged corpus. Every `ensureArtifact` build
    * stamps `_KEY` — `<family>:<dataDir>@<fingerprint>` (the exact
    * string its path hashes); each corpus regeneration changes the
    * fingerprint, so the family re-derives under a NEW path hash and
    * the old directory becomes unreachable garbage that accumulates
    * across sessions (eleven artifact families and growing). The
    * sweep re-derives the CURRENT fingerprint set for `dataDir` —
    * both the raw [[pathFingerprint]] of every table and the
    * layoutHex-style digest the partials families key on — and
    * deletes any `_KEY`-stamped dir that references this `dataDir`
    * with a fingerprint outside that set. Safe by construction:
    * `_INDEX_READY`-gated artifacts are re-derivable (a mistakenly
    * swept LIVE artifact would merely rebuild), dirs without `_KEY`
    * (non-artifact layouts, older sessions) are never touched, and
    * dirs keyed to OTHER data dirs are left alone. Returns the
    * deleted paths. */
  private[graft] def sweepStaleArtifacts(s: SparkSession,
      dataDir: String): Seq[String] = {
    val tables = Option(new java.io.File(dataDir).listFiles()).toSeq
      .flatten.map(_.getName).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet"))
    val current: Set[String] = tables.flatMap { t =>
      val fp = pathFingerprint(s, s"$dataDir/$t.parquet")
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$dataDir/$t@$fp".getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString
      Seq(fp, hex)
    }.toSet
    Option(java.nio.file.Paths.get("target").toAbsolutePath.toFile
      .listFiles()).toSeq
      .flatten.filter(_.isDirectory).flatMap { d =>
        val keyFile = d.toPath.resolve("_KEY")
        if (!java.nio.file.Files.exists(keyFile)) None
        else {
          val key = new String(
            java.nio.file.Files.readAllBytes(keyFile), "UTF-8").trim
          val at = key.lastIndexOf('@')
          val refsThisDir = key.contains(s"$dataDir@") ||
            key.contains(s"$dataDir/")
          if (at < 0 || !refsThisDir ||
              current.contains(key.substring(at + 1))) None
          else {
            deleteRecursively(d)
            Some(d.toString)
          }
        }
      }
  }

  /** Where the persisted connected-components LABEL index for `dir`
    * lives — the v17/v19 artifact idiom applied to the LAST
    * session-scoped expensive cascade (the converged t13 labels: label
    * propagation is an eager multi-round join loop, re-run per fresh
    * session without this artifact). */
  private[graft] def ccIndexPath(s: SparkSession, dir: String)
      : java.nio.file.Path =
    artifactDir("cc_index",
      s"ccindex:$dir@${pathFingerprint(s, s"$dir/documents.parquet")}")

  /** BUILD the CC-label artifact — the expensive one-time pass: the
    * t13 edge derivation (MinHash pipeline) plus the label-propagation
    * loop run ONCE, and the converged `(node, label)` relation
    * persists as one parquet relation `labels`. Serving the t13
    * cluster table (and any downstream cluster join — t29's split,
    * m6's media clusters) then starts at the artifact scan with no
    * propagation loop and no in-session memo. Idempotent under the
    * v17 nonce-marker contract; rides the session label memo when the
    * session already converged this graph, so the true cold build IS
    * the propagation loop. At 100 TB the labels relation is one
    * node-cardinality parquet table — the standard shape for a
    * nightly-dedup label store. */
  private[graft] def buildCcIndex(s: SparkSession, dir: String): String = {
    requireOracleCap(s)
    ensureArtifact(ccIndexPath(s, dir)) {
      ccConvergedLabelsDf(s, t13Edges(s, dir), memoKey = t13MemoKey(s, dir))
        .write.mode("overwrite")
        .parquet(ccIndexPath(s, dir).resolve("labels").toString)
    }
  }

  /** t33: the t13 near-dup cluster table SERVED from the persisted
    * label index — the serve path reads ONLY the artifact's `labels`
    * relation and runs the identical cluster-assembly tail
    * ([[ccClustersOf]]), so the result is bit-equal to t13 and the
    * SAME oracle hashes it: the converged labels are the only learned
    * state, and they ride in the artifact. A fresh session pays one
    * node-cardinality parquet read instead of the propagation loop. */
  def ccClustersServe(s: SparkSession, dir: String): DataFrame = {
    val idx = buildCcIndex(s, dir)
    ccClustersOf(readStable(s, s"$idx/labels"))
  }

  // ------------ t42: INCREMENTAL connected components — the cluster
  // shelf's append verb (t33 builds once and can only rebuild; at
  // 100 TB the nightly crawl must MERGE into yesterday's clusters)

  /** One artifact per GATE family (t42 append / t43 forget / t44
    * compact) — gates stay order-independent by never sharing a
    * mutable artifact (t37's rule).
    *
    * The key carries [[erasureFpRule]], the erasure-fingerprint RULE
    * version: the cluster shelf is the one refusal-capable shelf (an
    * active `relabel_nodes` replacement refuses further forgets), so
    * an artifact whose `_FORGOTTEN_`/relabel state was stamped under a
    * PRIOR fingerprint rule must be ABANDONED and rebuilt, never
    * re-probed under the new rule — re-probing computes a new tag,
    * finds no marker, and hits the "compact first" refusal on state
    * the old rule legitimately left behind (the r21 t46/t47 drop).
    * Tombstone shelves re-apply idempotently and need no version. */
  private[graft] def t42IndexPath(s: SparkSession, dir: String,
      fam: String = "t42"): java.nio.file.Path =
    artifactDir(s"cc_index_$fam",
      s"cc$fam:$erasureFpRule:$dir@" +
        pathFingerprint(s, s"$dir/documents.parquet"))

  /** The cluster shelf's graph for INCREMENTAL maintenance: bucket
    * CONNECTIVITY — two docs are adjacent iff they share a
    * `(band, sig)` LSH bucket, i.e. the transitive closure of the
    * s3/t34/s16 flag rule. Chosen over t13's est-filtered capped pair
    * graph DELIBERATELY: the cap's sub-split modulus depends on the
    * FULL bucket's size (`doc_id % ceil(cnt/cap)`), so t13's edge set
    * is not decomposable into base ∪ delta edges — incremental
    * maintenance of it could not be exact, and an inexact cluster
    * index is worse than none. The raw bucket graph decomposes by
    * construction: a doc's bucket memberships are a function of its
    * own content, so EVERY edge a new tranche creates involves a
    * delta doc — base-only connectivity never changes behind the
    * index's back, which is precisely what makes the merge-graph
    * update exact. Star edges (member ↔ bucket min) keep the edge
    * list linear in membership rows — never the per-bucket clique. */
  private[graft] def bucketStarEdges(members: DataFrame): DataFrame = {
    val bmin = members.groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("m"), count(lit(1)).as("cnt"))
    members.join(bmin, Seq("band", "sig"))
      .filter(col("cnt") >= 2 && col("doc_id") =!= col("m"))
      .select(col("doc_id").as("doc_a"), col("m").as("doc_b"))
      .distinct()
  }

  /** BUILD t42's cluster artifact over the base tranche (ids ≤ mid,
    * the t34/t35 split): the unfolded `(band, sig, doc_id)` members
    * (the relation every later append probes for cross edges — the
    * t37 lesson, paid up front) and the converged `(node, label)`
    * relation over the base bucket graph. Only clustered nodes carry
    * rows (singletons are the uninteresting common case, t13's rule);
    * `_CUT` persists the watermark so no serve re-scans the corpus
    * for bounds. Idempotent under the nonce-marker contract. */
  private[graft] def buildT42Index(s: SparkSession, dir: String,
      fam: String = "t42", withTs: Boolean = false): java.nio.file.Path = {
    val out = t42IndexPath(s, dir, fam)
    ensureArtifact(out) {
      val d = docs(s, dir)
      // one-time bounds read, confined to the build (q33's rule)
      val Array(lo, hi) = d.agg(min(col("doc_id")), max(col("doc_id")))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val cut = (lo + hi) / 2
      val m0 = bandedSignaturesOf(d.filter(col("doc_id") <= cut))
        .select(col("band"), col("sig"), col("doc_id"))
      // an event-time-governed index (s20's retention) carries the
      // derived ingest time in its members from the start (t45's
      // layout at t42's cut)
      (if (withTs) m0.withColumn("ingest_ts", expr(t41IngestTs)) else m0)
        .write.mode("overwrite").parquet(out.resolve("members").toString)
      // a REBUILD at this path must refresh the carries-ts memo — a
      // stale entry from a prior build with the other flag would
      // mis-schema every later append
      membersCarryTs.put(out, withTs)
      ccConvergedLabelsDf(s, bucketStarEdges(
          s.read.parquet(out.resolve("members").toString)), null)
        .write.mode("overwrite").parquet(out.resolve("labels").toString)
      java.nio.file.Files.write(out.resolve("_CUT"),
        cut.toString.getBytes("UTF-8"))
    }
    out
  }

  /** APPEND the tranche above `_CUT` into the cluster index — the
    * MERGE-GRAPH update, never a rebuild:
    *
    *  1. Band the delta (O(batch) map work) and probe the persisted
    *     members for its base bucket-mates; each mate collapses to
    *     its CURRENT label (the min-fold over the labels relation —
    *     an unlabeled mate is its own singleton label). Cross edges
    *     are therefore (delta doc ↔ current base label).
    *  2. Delta-internal star edges from the batch's own buckets.
    *  3. Converge the MERGE GRAPH — nodes are delta docs and touched
    *     base labels, O(batch + touched), never the corpus — with the
    *     same CC loop the build uses. Because every base label IS its
    *     component's min doc id, the merge graph's converged label is
    *     exactly the merged component's global min: the update is
    *     EXACT, not an approximation.
    *  4. Land ONE `append-<cut>-*` labels generation: the delta docs'
    *     labels, the LOWERED old labels (two base clusters bridged by
    *     a delta chain, or an absorbed base singleton), and a relabel
    *     row for every member of a lowered base cluster (O(affected
    *     members), bounded by the merge scope). Labels only ever
    *     DECREASE under merges, so the read stays the family's plain
    *     min fold per node — associative, compaction-ready, and
    *     crash-safe under the shared commit (generation cleared
    *     first, `_CUT` conditional, marker last). The delta's
    *     membership rows move into `members/` INSIDE the same commit
    *     window (s16's beforeReady idiom) so no reachable state holds
    *     labels without the members that justify them. */
  /** The labels relation's CURRENT rows, un-folded — replacement-aware
    * (t43's forget lands a `relabel-*` REPLACEMENT generation plus the
    * `relabel_nodes` key list, q40's idiom: a split can RAISE labels,
    * which a min fold cannot express, so the read must PREFER the
    * replacement for affected nodes and drop everything older). With
    * no replacement present this is the plain multi-generation scan. */
  /** The labels relation's fixed schema — declared on every read so
    * the scan plans without a footer-inference job (the label
    * relations are written by this file alone; one redundant
    * schema-discovery job per generation read was pure fixed overhead
    * in the per-micro-batch paths). */
  private val labelsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("node",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("label",
      org.apache.spark.sql.types.LongType, nullable = false)))

  private[graft] val relabelNodesSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node",
        org.apache.spark.sql.types.LongType, nullable = false)))

  private[graft] def t42CurrentRows(s: SparkSession,
      out: java.nio.file.Path): DataFrame = {
    val dst = out.resolve("labels")
    val files = Option(dst.toFile.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
    val (rel, plain) = files.partition(_.getName.startsWith("relabel-"))
    // defensive: today's writer emits a schema-bearing part file even
    // for an empty result (partition 0 always writes), so `plain` is
    // non-empty through every in-tree path — but a zero-path parquet
    // read throws, and this read must not depend on a writer detail
    // that has changed across Spark versions
    val plainDf =
      if (plain.nonEmpty)
        s.read.schema(labelsSchema).parquet(plain.map(_.toString): _*)
      else s.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        labelsSchema)
    if (rel.isEmpty) plainDf
    else plainDf
      .join(s.read.schema(relabelNodesSchema)
          .parquet(out.resolve("relabel_nodes").toString),
        Seq("node"), "left_anti")
      .unionAll(s.read.schema(labelsSchema)
        .parquet(rel.map(_.toString): _*))
  }

  private[graft] def t42FoldedLabels(s: SparkSession,
      out: java.nio.file.Path): DataFrame =
    t42CurrentRows(s, out)
      .groupBy(col("node")).agg(min(col("label")).as("label"))

  private[graft] def t42Append(s: SparkSession, dir: String,
      fam: String = "t42", upTo: Long = Long.MaxValue): Unit = {
    val out = t42IndexPath(s, dir, fam)
    artifactLock(out).synchronized { retryOnConflict() {
      requireReady(out)
      val cut = cutOf(out)
      t42AbsorbDelta(s, out,
        docs(s, dir).filter(col("doc_id") > cut && col("doc_id") <= upTo))
      ()
    } }
  }

  /** The merge-graph ABSORB core, shared by the batch append (t42)
    * and the streamed maintenance (s18): rows at or below the current
    * `_CUT` are filtered out (what makes a re-delivered batch an
    * exact no-op — the at-least-once fence needs no file bookkeeping
    * beyond the watermark), the merge graph converges, and ONE
    * generation commits. Returns the batch docs' cluster assignments
    * AT ABSORB TIME (the conv's delta rows — s18's per-batch flags)
    * or None when the delta is empty. Caller holds the artifact
    * lock; readiness is the caller's contract (the stream proceeds on
    * a marker-less working dir mid-replay, exactly like s16). */
  private[graft] def t42AbsorbDelta(s: SparkSession,
      out: java.nio.file.Path, deltaIn: DataFrame,
      flags: java.nio.file.Path = null,
      knownHi: Option[Long] = None): Option[Long] = {
    val cut = cutOf(out)
    val delta = deltaIn.filter(col("doc_id") > cut)
    // the delta high-watermark: reuse the caller's already-computed
    // max when provided (the stream driver pays one max agg for its
    // monotone assert and was paying a second identical one here —
    // the filter only removes rows ≤ cut, so deltaIn's max IS delta's
    // max whenever it exceeds the cut, and a below-cut/empty delta is
    // exactly knownHi ≤ cut); otherwise one agg here as before.
    val hiOpt: Option[Long] = knownHi match {
      case Some(h) => if (h > cut) Some(h) else None
      case None =>
        val r = delta.agg(max(col("doc_id"))).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    if (hiOpt.isEmpty) None
    else {
      val newCut = hiOpt.get
      locally {
        // the batch's banding feeds the merge edges, the membership
        // write, and the generation write — persist once (unpersisted
        // before return; the absorb leaves no blocks behind)
        val dm = bandedSignaturesOf(delta)
          .select(col("band"), col("sig"), col("doc_id"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
        // tombstone-aware members (a forget's dead docs must not
        // resurface as bucket-mates) and replacement-aware labels
        val members = aliveMembers(s, out)
        val current = t42CurrentRows(s, out)
        val labels = current
          .groupBy(col("node")).agg(min(col("label")).as("label"))
        val cross = dm.as("a")
          .join(members.as("b"),
            col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("bm"))
          .join(labels.withColumnRenamed("node", "bm"), Seq("bm"), "left")
          .select(col("doc_a"),
            coalesce(col("label"), col("bm")).as("doc_b"))
          .distinct()
        val conv = ccConvergedLabelsDf(s,
          cross.unionAll(bucketStarEdges(dm)), null)
        val deltaRows = conv.filter(col("node") > cut)
          .select(col("node"), col("label"))
        // s18's per-batch probe product: the batch docs' assignments
        // AT ABSORB TIME, written BEFORE the commit (s16's flag order
        // — a retried half-committed batch rewrites them identically)
        val flagsWrite: Option[() => Unit] =
          if (flags == null) None
          else Some(() =>
            deltaRows.select(col("node").as("doc_id"),
                col("label").as("cluster_id"))
              .repartition(genParts(s))
              .write.mode("overwrite").parquet(flags.toString))
        // EVERY base-side merge-graph node lands a row: an absorbed
        // base SINGLETON that is its new cluster's min has
        // label == node — neither a delta doc nor a lowering, but its
        // membership row must exist (it had none as a singleton).
        // For an already-labeled canon the (L, L) row is a harmless
        // duplicate under the min fold
        val baseRows = conv.filter(col("node") <= cut)
          .select(col("node"), col("label"))
        val lowered = conv.filter(col("node") <= cut &&
          col("label") < col("node"))
        // every member of a lowered base cluster relabels; stale
        // generations' rows cannot match — a superseded label is never
        // anyone's CURRENT label (its own component merged downward),
        // and `cross` collapsed mates through the fold
        val relabeled = current
          .join(lowered.select(col("node").as("old_label"),
            col("label").as("new_label")),
            col("label") === col("old_label"))
          .select(col("node"), col("new_label").as("label"))
        val gen = deltaRows
          .unionAll(baseRows)
          .unionAll(relabeled)
        // q42's staleness rule on THIS shelf: rows for nodes under an
        // active replacement must fold INTO the replacement side — the
        // read anti-joins every plain generation against
        // relabel_nodes, so an ordinary append row for such a node
        // would be silently dropped. Appends only ever LOWER labels,
        // so a relabel-* landing is min-fold-compatible with the
        // replacement it extends
        val keysPath = out.resolve("relabel_nodes")
        val hasRel = java.nio.file.Files.exists(keysPath)
        val (genPlain, genRel) =
          if (!hasRel) (gen, null: DataFrame)
          else {
            val keys = s.read.schema(relabelNodesSchema)
              .parquet(keysPath.toString)
            (gen.join(keys, Seq("node"), "left_anti"),
              gen.join(keys, Seq("node"), "left_semi"))
          }
        val tmp = out.resolve("labels_append")
        val tmpR = out.resolve("labels_append_rel")
        val tmpM = out.resolve("members_append")
        // an event-time-governed artifact (t45/s20) carries ingest_ts
        // in EVERY members generation: appended rows derive it by the
        // same rule, keeping the relation schema-uniform so a later
        // horizon advance evaluates batch-absorbed docs too (a
        // ts-less append would hide its docs from the expiry
        // predicate and poison mixed-schema reads). One footer read,
        // memoized per artifact path — the property is fixed at build
        // time, so a stream never re-lists the members dir for it
        val dmOut =
          if (membersCarryTs.computeIfAbsent(out, p =>
              readStable(s, p.resolve("members").toString)
                .schema.fieldNames.contains("ingest_ts")))
            dm.withColumn("ingest_ts", expr(t41IngestTs))
          else dm
        // the four generation writes are mutually independent (all
        // derive from the persisted dm / the driver-local conv / the
        // already-read current rows) and each is a fixed-overhead job
        // over batch-sized input — overlap them (guide §2.6); the
        // file-move commit below waits for all
        parallelWrites(
          flagsWrite.toSeq ++ Seq(
            () => genPlain.repartition(genParts(s))
              .write.mode("overwrite").parquet(tmp.toString)) ++
          (if (hasRel) Seq(() => genRel.repartition(genParts(s))
              .write.mode("overwrite").parquet(tmpR.toString))
           else Nil) ++ Seq(
            () => dmOut.coalesce(genParts(s))
              .write.mode("overwrite").parquet(tmpM.toString)))
        commitArtifactAppend(out, tmp, newCut, rel = "labels",
          beforeReady = () => {
            if (hasRel)
              Generations.install(tmpR, out.resolve("labels"),
                Generations.prefix("relabel-a", newCut))
            Generations.install(tmpM, out.resolve("members"),
              Generations.prefix("append", newCut))
          }, expectedCut = cut)
        } finally dm.unpersist(blocking = true)
      }
      Some(newCut)
    }
  }

  /** The artifact's cluster assembly: the replacement-aware current
    * rows, min-folded per node, then the same tail as t13/t33. */
  private[graft] def ccClustersOfFolded(s: SparkSession,
      out: java.nio.file.Path): DataFrame =
    ccClustersOf(t42FoldedLabels(s, out))

  /** The ground-truth comparator (spec-only at any scale): the same
    * bucket-connectivity CC rebuilt over the FULL corpus — what the
    * incremental path must equal exactly. */
  private[graft] def rebuildBucketClusters(s: SparkSession,
      dir: String): DataFrame =
    connectedComponentsOf(s, bucketStarEdges(
      bandedSignaturesOf(docs(s, dir))
        .select(col("band"), col("sig"), col("doc_id"))))

  /** t42: the cluster table served INCREMENTALLY — build the base
    * half, MERGE the tail tranche through the merge-graph append,
    * serve the min-folded labels through the same cluster-assembly
    * tail as t13/t33. Oracle = the full-corpus bucket-connectivity
    * CC (a recursive CTE over the uncapped star edges): append-then-
    * serve must equal the rebuild exactly — merges, absorbed
    * singletons, and delta-only clusters included. The two-base-
    * cluster merge, relabel-generation shape, second-append
    * composition, and idempotence are pinned on a crafted corpus in
    * CcIncrementalSpec. */
  def ccIncrementalServe(s: SparkSession, dir: String): DataFrame = {
    buildT42Index(s, dir)
    t42Append(s, dir)
    ccClustersOfFolded(s, requireReady(t42IndexPath(s, dir)))
  }

  // ------------ t43: FORGET on the cluster shelf — deletion that can
  // SPLIT a component (min-label merge is not invertible: removal can
  // RAISE labels, so this is the shelf's q40 — a scoped re-derivation
  // landed as a replacement the read prefers, never a corpus rebuild)

  /** Forget `ids` from the cluster index. Two windows under one lock:
    *
    *  1. The ids tombstone in `members` through the SHARED
    *     [[applyTakedown]] (id-set-keyed marker) — future appends'
    *     cross probes must never see a dead doc as a bucket-mate.
    *  2. The AFFECTED components re-derive: their current labels are
    *     found index-locally (folded labels semi-joined to the ids),
    *     every member of an affected component is collected, the
    *     SURVIVORS' bucket subgraph re-converges with the same CC
    *     loop (bucket-mates never cross components, so the subgraph
    *     is exactly the affected components — O(affected), never the
    *     corpus; per-bucket minima recompute over survivors, so a
    *     dead bucket-min re-elects), and the result lands as a
    *     `relabel-f<tag>-*` REPLACEMENT generation with the affected
    *     node set persisted as `relabel_nodes` INSIDE the same
    *     marker-off window. Splits and raised labels fall out: a
    *     survivor whose only bridge died simply converges into a
    *     smaller component (or into none — a re-singleton emits no
    *     row and the anti-join hides its stale one).
    *
    * ONE active replacement at a time (q42's discipline): a second
    * forget REFUSES until [[t44Compact]] bakes the replacement into a
    * fresh base — composing raise-capable replacements under a min
    * fold would silently resurrect lowered labels. Idempotent per id
    * set via `_FORGOTTEN_<tag>`. */
  private[graft] def t43Forget(s: SparkSession,
      out: java.nio.file.Path, ids: DataFrame, tag: String): Unit = {
    artifactLock(out).synchronized {
      requireReady(out)
      val marker = out.resolve(s"_FORGOTTEN_$tag")
      if (!java.nio.file.Files.exists(marker)) {
        // an EMPTY id set (t45's lagging horizon — yesterday's cutoff
        // re-run, or a horizon below every ingest time) is a pure
        // no-op: marker only, no tombstones, and crucially NO
        // replacement — landing an empty relabel generation would
        // refuse every later forget for nothing
        if (ids.isEmpty) {
          java.nio.file.Files.write(marker, "1".getBytes("UTF-8"))
          ()
        } else {
        require(!java.nio.file.Files.exists(out.resolve("relabel_nodes")),
          s"$out already holds an active relabel replacement: compact " +
            "first (t44Compact) — composing raise-capable replacements " +
            "under the min fold would resurrect lowered labels")
        val idNodes = ids.select(col("doc_id").as("node"))
        // the isEmpty probe above already proved ids non-empty, and
        // this takedown's rows ARE the ids — skip the read-back probe
        applyTakedown(s, out, gen = s"f$tag", marker = s"_TAKEDOWN_F$tag",
          knownNonEmpty = true)(
          _ => idNodes.select(col("node").as("doc_id")))
        val folded = t42FoldedLabels(s, out)
        val affLabels = folded.join(idNodes, Seq("node"), "left_semi")
          .select(col("label")).distinct()
        // persisted: the affected set feeds the survivor subgraph (the
        // re-convergence's edge derivation) AND lands as the
        // relabel_nodes key list — two actions over the same
        // folded-labels double-join; dropped before return
        val affNodes = folded.join(affLabels, Seq("label"), "left_semi")
          .select(col("node"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
        val survivors = affNodes.join(idNodes, Seq("node"), "left_anti")
        val subMembers = aliveMembers(s, out)
          .join(survivors.withColumnRenamed("node", "doc_id"),
            Seq("doc_id"), "left_semi")
        val relabeled = ccConvergedLabelsDf(s,
          bucketStarEdges(subMembers), null)
        withArtifactLease(out) {
          val tmp = out.resolve("labels_relabel")
          val tmpK = out.resolve("relabel_nodes_tmp")
          // independent writes (re-derived labels vs the persisted
          // affected-node key list) — overlap their jobs (guide §2.6)
          parallelWrites(Seq(
            () => relabeled.repartition(genParts(s))
              .write.mode("overwrite").parquet(tmp.toString),
            () => affNodes.coalesce(genParts(s))
              .write.mode("overwrite").parquet(tmpK.toString)))
          val ready = out.resolve("_INDEX_READY")
          java.nio.file.Files.deleteIfExists(ready)
          Generations.install(tmp, out.resolve("labels"),
            Generations.prefix("relabel-f", tag))
          deleteRecursively(out.resolve("relabel_nodes").toFile)
          Generations.install(tmpK, out.resolve("relabel_nodes"), "k")
          java.nio.file.Files.write(marker, "1".getBytes("UTF-8"))
          java.nio.file.Files.write(ready,
            System.nanoTime().toString.getBytes("UTF-8"))
          ()
        }
        } finally affNodes.unpersist(blocking = true)
        }
      }
    }
  }

  /** t44: COMPACTION after a forget — materialize the replacement-
    * aware folded labels as ONE fresh `compact-*` generation, retire
    * `relabel_nodes` (the read's anti-join disappears; plain appends
    * and a NEXT forget become legal again), and fold the members
    * tombstones away through the shared [[compactTombstoneIndex]].
    * Marker-last; `_CUT` untouched; serve-before ≡ serve-after. */
  private[graft] def t44Compact(s: SparkSession,
      out: java.nio.file.Path): Boolean =
    artifactLock(out).synchronized {
      requireReady(out)
      val dst = out.resolve("labels")
      // an active replacement COUNTS as mutated independently of the
      // relabel generation's file shape (today's writer emits a part
      // file even for an empty re-derivation, but the key list is the
      // semantic truth): compaction must retire `relabel_nodes` in
      // every case, or a later forget permanently refuses with
      // "compact first"
      val mutated = Option(dst.toFile.listFiles()).toSeq.flatten
        .exists(f => f.getName.startsWith("append-") ||
          f.getName.startsWith("relabel-")) ||
        java.nio.file.Files.exists(out.resolve("relabel_nodes"))
      if (mutated) {
        withArtifactLease(out) {
          val tmp = out.resolve("labels_compact")
          t42FoldedLabels(s, out)
            .write.mode("overwrite").parquet(tmp.toString)
          val ready = out.resolve("_INDEX_READY")
          java.nio.file.Files.deleteIfExists(ready)
          deleteRecursively(dst.toFile)
          Generations.install(tmp, dst, Generations.prefix("compact", 0))
          val keys = out.resolve("relabel_nodes")
          if (java.nio.file.Files.exists(keys))
            deleteRecursively(keys.toFile)
          java.nio.file.Files.write(ready,
            System.nanoTime().toString.getBytes("UTF-8"))
          ()
        }
        compactTombstoneIndex(s, out)
        true
      } else false
    }

  /** t43's deterministic forget set, derived INDEX-LOCALLY: every
    * cluster's canon (the min member — the worst case, every forget
    * forces a re-election and every component either splits, shrinks,
    * or vanishes). In production the ids arrive from outside (t39's
    * shape); the derivation exists so the oracle can reproduce the
    * set as `SELECT DISTINCT cluster_id`. */
  private def t43CanonIds(s: SparkSession,
      out: java.nio.file.Path): DataFrame =
    t42FoldedLabels(s, out)
      .filter(col("node") === col("label"))
      .select(col("node").as("doc_id"))

  /** t43: FORGET served — the fully-absorbed cluster index (t42's
    * machinery on t43's own artifact copy), every canon taken down,
    * the re-derived survivors served. Oracle = the bucket-CC REBUILD
    * over corpus minus the full index's cluster ids: splits,
    * re-elections, and vanished components must all be exactly as if
    * the forgotten docs had never been ingested. */
  def ccForgetServe(s: SparkSession, dir: String): DataFrame = {
    buildT42Index(s, dir, "t43")
    t42Append(s, dir, "t43")
    val out = requireReady(t42IndexPath(s, dir, "t43"))
    t43Forget(s, out, t43CanonIds(s, out), "canons")
    ccClustersOfFolded(s, out)
  }

  /** t44: compaction after the forget, served — the full t43
    * composition on t44's own artifact copy, then the fold; the serve
    * must be INVISIBLE (t36/q43's rule), so the oracle is t43's
    * verbatim. What changes is the read: one generation, no
    * anti-join, appends and a next forget legal again. */
  def ccForgetCompactServe(s: SparkSession, dir: String): DataFrame = {
    buildT42Index(s, dir, "t44")
    t42Append(s, dir, "t44")
    val out = requireReady(t42IndexPath(s, dir, "t44"))
    t43Forget(s, out, t43CanonIds(s, out), "canons")
    t44Compact(s, out)
    ccClustersOfFolded(s, out)
  }

  // ------------ t45: RETENTION on the cluster shelf — the last empty
  // cell in the policy × shelf matrix (t38/t41 band, m12/m13 media,
  // v22/v23 vector, q41 sum all have scheduled TTL verbs; the cluster
  // shelf had only the id-list forget)

  /** t45's OWN cluster artifact over the FULL corpus, with the
    * derived per-doc ingest time (the shared t41/m13/v23 md5 idiom)
    * riding IN the members relation — a horizon advance is then
    * index-local: the expired set evaluates on the index's own
    * `ingest_ts` column, never the corpus. `_CUT` = hi (the index is
    * fully absorbed; retention is the only mutation this family
    * gates). */
  private[graft] def buildT45Index(s: SparkSession, dir: String)
      : java.nio.file.Path = {
    val out = t42IndexPath(s, dir, "t45")
    ensureArtifact(out) {
      val d = docs(s, dir)
      val hi = d.agg(max(col("doc_id"))).head().getLong(0)
      val members = bandedSignaturesOf(d)
        .select(col("band"), col("sig"), col("doc_id"))
        .withColumn("ingest_ts", org.apache.spark.sql.functions
          .expr(t41IngestTs))
      members.write.mode("overwrite")
        .parquet(out.resolve("members").toString)
      membersCarryTs.put(out, true)
      ccConvergedLabelsDf(s, bucketStarEdges(
          s.read.parquet(out.resolve("members").toString)), null)
        .write.mode("overwrite").parquet(out.resolve("labels").toString)
      java.nio.file.Files.write(out.resolve("_CUT"),
        hi.toString.getBytes("UTF-8"))
    }
    out
  }

  /** AGE OFF the cluster index at `horizon` — retention composed with
    * t43's forget: the expired set is a PREDICATE over the members
    * relation's own timestamp column (id-span via `tsCol = "doc_id"`,
    * event-time via the persisted `ingest_ts` — both forms, t41's
    * rule), evaluated index-locally, then routed through the SAME
    * [[t43Forget]] machinery because min-label merge is not
    * invertible: an expired doc can SPLIT its component and RAISE
    * survivors' labels, which `ageOffMembers`' plain tombstone (built
    * for min-fold re-election) cannot express on this shelf. The
    * forget tombstones the expired membership AND re-derives exactly
    * the affected components into a replacement generation —
    * O(expired + affected), never the corpus. Idempotent PER HORIZON
    * (`_FORGOTTEN_h<horizon>` marker — re-running yesterday's cutoff
    * short-circuits); a LAGGING horizon (below every ingest time)
    * no-ops without landing a replacement; t43's refusal discipline
    * stands — the nightly schedule is advance → compact → advance,
    * and a second advance on an uncompacted replacement fails
    * loudly. Expired ids read the RAW members relation (not the
    * tombstone-joined view) so the lazy plan is stable across the
    * forget's own mutations. */
  private[graft] def t45AgeOff(s: SparkSession, out: java.nio.file.Path,
      horizon: Long, tsCol: String = "ingest_ts"): Unit = {
    // persist the expired set once: the forget's emptiness probe,
    // tombstone write, and affected/survivor joins would otherwise
    // each re-run the members scan + distinct (s19 pays this per
    // stream rep); dropped before return on every path
    val expired = readStable(s, out.resolve("members").toString)
      .filter(col(tsCol) <= horizon)
      .select(col("doc_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try t43Forget(s, out, expired, s"h$horizon")
    finally expired.unpersist(blocking = true)
  }

  /** t45: cluster-shelf EVENT-TIME retention, served — build the
    * timestamp-carrying cluster artifact, advance the policy horizon
    * twice (compacting between advances — the refusal discipline's
    * steady state), serve the surviving clusters. The expired set is
    * NON-CONTIGUOUS in id space (the hash-time interleaves expired
    * and surviving ids), so splits, re-elections, and vanished
    * components must all be exactly as if the expired docs had never
    * been ingested: the oracle is the bucket-CC REBUILD over docs
    * whose derived ingest time exceeds the second constant horizon.
    * Split/raise/lagging-horizon/refusal pinned in
    * CcIncrementalSpec. */
  def ccTimeAgeOff(s: SparkSession, dir: String): DataFrame = {
    val out = buildT45Index(s, dir)
    t45AgeOff(s, requireReady(out), T41H1)
    t44Compact(s, out)
    t45AgeOff(s, out, T41H2)
    ccClustersOfFolded(s, requireReady(out))
  }

  // ------------ t46: EXTERNAL takedown list on the cluster shelf —
  // t39's input-relation shape (a legal-hold queue, a GDPR request
  // log) × t43's component re-derivation

  /** FORGET an externally-supplied id RELATION from the cluster
    * index. The generation tag is the [[erasureFingerprint]] of the
    * SORTED DISTINCT id list (the q44/s16 compliance rule: a second
    * DIFFERENT list lands beside the first instead of
    * short-circuiting on a shared marker — a silent no-op on a new
    * erasure request would be a compliance failure; re-submitting a
    * semantically equal list — byte-identical or differing only in
    * duplicate multiplicity — stays a marker no-op). Absent ids
    * no-op and repeated ids are idempotent by anti-join/semi-join
    * construction (t39's edge semantics, pinned in
    * CcIncrementalSpec). */
  private[graft] def t43ForgetExternal(s: SparkSession,
      out: java.nio.file.Path, ids: DataFrame,
      tag: String = null): Unit = {
    val t = if (tag != null) tag else erasureFingerprint(ids)
    t43Forget(s, out, ids.select(col("doc_id")).distinct(), s"x$t")
  }

  /** t46: the cluster shelf's external-takedown verb, served — the
    * fully-absorbed cluster index (t42's machinery on t46's own
    * artifact copy), the staged t39 erasure relation (every
    * corpus-range multiple of 7, plus an absent id that must no-op
    * and a repeated id that must be idempotent) routed through the
    * list-fingerprint forget, survivors served. Oracle = the
    * bucket-CC rebuild over docs not divisible by 7 — splits,
    * re-elections, and vanished components exactly as if the erased
    * docs had never been ingested. */
  def ccTakedownExternal(s: SparkSession, dir: String): DataFrame = {
    buildT42Index(s, dir, "t46")
    t42Append(s, dir, "t46")
    val out = requireReady(t42IndexPath(s, dir, "t46"))
    val ext = stageT39Erasures(s, dir)
    t43ForgetExternal(s, out,
      readStable(s, ext.resolve("erasures").toString))
    ccClustersOfFolded(s, out)
  }

  // ------------ t47: ONE erasure request fans out to EVERY shelf

  /** t47: the cross-shelf erasure FAN-OUT — the production contract
    * each single-shelf verb's Scaladoc states ("an erasure request
    * names DOCUMENTS; every index holding the doc's derived state
    * honors it") exercised as ONE call: the SAME staged t39 list
    * routed through the band membership (t39's artifact and verb),
    * the media membership (m14's), the cluster index (t46's
    * component re-derivation), and a sum-shelf partials family of
    * t47's own (q44's verb — the listed ids erased as principals;
    * q44's gate artifact stays untouched so its fixture holds), then
    * ONE per-shelf survivor summary served: `(shelf, n_groups,
    * n_rows, checksum)` where checksum is the surviving id sum on
    * the membership shelves and the integer-cent value sum on the
    * sum shelf. This is the audit a real compliance pipeline runs
    * nightly — same list ⇒ same surviving doc set on every
    * membership shelf (set equality pinned in TombstoneSpec) and no
    * listed principal contributing to any served aggregate. The
    * fan-out adds ZERO deletion code: each leg is the shelf's
    * existing fingerprint-keyed takedown, so re-running it — or
    * running it beside the single-shelf gates on the same artifacts
    * — is a per-shelf marker no-op, and the summaries are one
    * O(index) aggregation per shelf (the corpus never rejoins any
    * steady-state read). */
  def takedownFanout(s: SparkSession, dir: String): DataFrame = {
    val ext = stageT39Erasures(s, dir)
    val list = readStable(s, ext.resolve("erasures").toString)
    // ONE fingerprint job for the whole fan-out: the tag depends only
    // on the id VALUES, so every shelf (including the sum leg's
    // user_id rename) shares it — four re-computations would be fixed
    // per-rep job overhead of exactly the class the stream gates shed
    val tag = erasureFingerprint(list)
    val band = t39IndexPath(s, dir)
    buildMembersIndexAt(s, dir, band)
    applyTakedownExternal(s, band, list, tag = tag)
    MultimodalOps.stageMediaTakedownExternal(s, dir, tag = tag)
    buildT42Index(s, dir, "t46")
    t42Append(s, dir, "t46")
    val cc = requireReady(t42IndexPath(s, dir, "t46"))
    t43ForgetExternal(s, cc, list, tag = tag)
    val summed = Relational.fanoutSumTakedown(s, dir, list, tag = tag)
    val bandSum = aliveMembers(s, requireReady(band)).agg(
        countDistinct(col("band"), col("sig")).as("n_groups"),
        count(lit(1)).as("n_rows"),
        sum_distinct(col("doc_id")).as("checksum"))
      .select(lit("band").as("shelf"), col("n_groups"),
        col("n_rows"), col("checksum"))
    val ccSum = ccClustersOfFolded(s, cc).agg(
        countDistinct(col("cluster_id")).as("n_groups"),
        count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("checksum"))
      .select(lit("cluster").as("shelf"), col("n_groups"),
        col("n_rows"), col("checksum"))
    val mediaSum = aliveMembers(s,
        requireReady(MultimodalOps.m14IndexPath(s, dir))).agg(
        countDistinct(col("ahash")).as("n_groups"),
        count(lit(1)).as("n_rows"),
        sum_distinct(col("doc_id")).as("checksum"))
      .select(lit("media").as("shelf"), col("n_groups"),
        col("n_rows"), col("checksum"))
    val sumSum = summed.agg(
        count(lit(1)).as("n_groups"),
        sum(col("n_events")).as("n_rows"),
        sum(round(col("sum_value") * 100).cast("long")).as("checksum"))
      .select(lit("sum").as("shelf"), col("n_groups"),
        col("n_rows"), col("checksum"))
    bandSum.unionAll(ccSum).unionAll(mediaSum).unionAll(sumSum)
      .orderBy(col("shelf"))
  }

  // ---------------------------------- t34: incremental (delta) dedup

  /** Where the persisted LSH BAND index for `dir`'s BASE tranche
    * lives. The base/delta split is the s11/q33 idiom: docs with
    * `doc_id <= ⌊(min+max)/2⌋` are the already-ingested corpus, the
    * high-id half is the new batch — on synthetic fixtures that
    * models yesterday's corpus vs today's crawl. */
  private[graft] def bandIndexPath(s: SparkSession, dir: String)
      : java.nio.file.Path =
    artifactDir("band_index",
      s"bandindex:$dir@${pathFingerprint(s, s"$dir/documents.parquet")}")

  /** BUILD the band-index artifact: the BASE tranche's LSH buckets
    * pre-aggregated to one `(band, sig, canon)` row per bucket (canon
    * = the bucket's min doc id — the s3 ingest rule's state, here as
    * a servable relation) plus the `_CUT` watermark (the q33 idiom:
    * maintenance state rides in the artifact so serving never
    * re-scans the base corpus for bounds). Bucket-cardinality output
    * — at 100 TB this is the nightly-dedup index a pipeline persists
    * once and probes with every new batch. Idempotent under the
    * nonce-marker contract. */
  private[graft] def buildBandIndex(s: SparkSession, dir: String): String =
    buildBandIndexAt(s, dir, bandIndexPath(s, dir))

  private[graft] def buildBandIndexAt(s: SparkSession, dir: String,
      out: java.nio.file.Path): String = {
    ensureArtifact(out) {
      val d = docs(s, dir)
      // one-time 2-long bounds read, confined to the build (q33)
      val Array(lo, hi) = d.agg(min(col("doc_id")), max(col("doc_id")))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val cut = (lo + hi) / 2
      bandedSignaturesOf(d.filter(col("doc_id") <= cut))
        .groupBy(col("band"), col("sig"))
        .agg(min(col("doc_id")).as("canon"))
        .write.mode("overwrite").parquet(out.resolve("buckets").toString)
      java.nio.file.Files.write(out.resolve("_CUT"),
        cut.toString.getBytes("UTF-8"))
    }
  }

  /** t34: INCREMENTAL dedup — flag a NEW batch of documents against
    * the persisted corpus index without touching the corpus: the
    * daily-operations shape at 100 TB (re-running t7/t13 over the
    * full corpus per batch is the thing this avoids). The delta (ids
    * above the artifact's `_CUT`, read with the filter pushed to the
    * scan) bands map-only, then probes the pre-aggregated
    * `(band, sig, canon)` bucket relation with ONE keyed equi-join —
    * no pair generation anywhere, so no bucket cap is involved: each
    * delta band row meets at most one bucket row, cost is linear in
    * the batch regardless of corpus bucket sizes. A doc is flagged
    * iff some band bucket already exists in the base (witness = min
    * band, dup_of = min base canonical — s3's rule against persisted
    * state instead of stream state). Within-batch duplicates are
    * s3/t7's job, deliberately not re-flagged here. */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val idx = buildBandIndex(s, dir)
    val cut = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, "_CUT")), "UTF-8").trim.toLong
    val delta = docs(s, dir).filter(col("doc_id") > cut)
    val buckets = readStable(s, s"$idx/buckets")
    bandedSignaturesOf(delta)
      .select(col("doc_id"), col("band"), col("sig"))
      .join(buckets, Seq("band", "sig"))
      .groupBy(col("doc_id"))
      .agg(min(col("band")).as("band"), min(col("canon")).as("dup_of"))
      .orderBy(col("doc_id"))
  }

  /** t34 through the SQL-TEXT surface — the same incremental probe
    * computed by ONE `spark.sql(...)` statement over registered temp
    * views of the corpus and the persisted bucket relation, gated
    * against the IDENTICAL oracle as the programmatic t34: an
    * analytics engine's users write SQL strings, not only DataFrame
    * code, and the highest-traffic pipeline shape (the nightly batch
    * probing yesterday's index) earns the text path its own hash
    * gate (§2.12's rule applied to the pipeline operators). The
    * native `minhash_sig` kernel is reachable from SQL text because
    * it registers as a session function (TextHashes.register — the
    * same codegen'd expression, zero UDFs), and the band explosion is
    * the UNION ALL idiom the DuckDB oracle itself uses. View names
    * resolve through the per-invocation serial
    * ([[JobHistoryOps.withSqlViews]] — no clobbered user views, no
    * leaked catalog entries; hygiene pinned in IndexAppendSpec). */
  def incrementalDedupSql(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextHashes.register(s)
    val idx = buildBandIndex(s, dir)
    val cut = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, "_CUT")), "UTF-8").trim.toLong
    val bandSel = (0 until NumBands).map { b =>
      val key = (0 until BandSize).map(r => s"sig_arr[${b * BandSize + r}]")
        .mkString("concat_ws(':', ", ", ", ")")
      s"SELECT doc_id, $b AS band, $key AS sig FROM sig"
    }.mkString("\n UNION ALL ")
    JobHistoryOps.withSqlViews(s, Seq(
      "t34_documents" -> docs(s, dir),
      "t34_buckets" -> readStable(s, s"$idx/buckets")))(nm =>
      s"""WITH delta AS (
         | SELECT doc_id, split(text, ' ') AS words
         | FROM ${nm("t34_documents")} WHERE doc_id > $cut),
         |sig AS (
         | SELECT doc_id, minhash_sig(words) AS sig_arr
         | FROM delta WHERE size(words) >= 3),
         |bands AS (
         | $bandSel)
         |SELECT b.doc_id, min(b.band) AS band, min(k.canon) AS dup_of
         |FROM bands b JOIN ${nm("t34_buckets")} k
         | ON b.band = k.band AND b.sig = k.sig
         |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin)
  }

  // ------------------------ t35: index WRITE-BACK (append + advance)

  /** Where the READ-WRITE band index lives. t34/s14 deliberately probe
    * a read-only artifact — their gates re-probe the base-tranche
    * buckets every run, so the delta must stay un-absorbed there —
    * and the write-back family maintains its OWN copy of the same
    * index, so an append never invalidates the read-only gates. */
  private[graft] def rwBandIndexPath(s: SparkSession, dir: String)
      : java.nio.file.Path =
    artifactDir("band_index_rw",
      s"bandindexrw:$dir@${pathFingerprint(s, s"$dir/documents.parquet")}")

  private[graft] def buildRwBandIndex(s: SparkSession, dir: String): String =
    buildBandIndexAt(s, dir, rwBandIndexPath(s, dir))

  /** s15's OWN copy of the band index (a third, beside t34's
    * read-only and t35's rw): its gate freezes the index at a
    * mid-append state — base built, ONE intermediate batch absorbed —
    * and t35's gate appends its copy's full tail, so sharing either
    * artifact would make one gate's result depend on whether the
    * other ran first. Gates must be order-independent. */
  private[graft] def s15BandIndexPath(s: SparkSession, dir: String)
      : java.nio.file.Path =
    artifactDir("band_index_s15",
      s"bandindexs15:$dir@${pathFingerprint(s, s"$dir/documents.parquet")}")

  /** Output partition count for BATCH-sized artifact writes — the
    * per-micro-batch generations, flags, tombstone lists, and fold
    * outputs of the maintenance shelves. These relations are bounded
    * by a micro-batch / an erasure list / the folded index (a few
    * thousand rows at gate scale, a few MB at fleet scale), yet each
    * write was landing one part file PER upstream partition (8 in a
    * stream, up to 32 elsewhere): ~100 files per working index after
    * a few batches, pushing every generation read over Spark's
    * 32-path parallel-listing threshold — a dedicated listing JOB per
    * batch (r21 profiling, guide §6 "small files hurt twice").
    * `coalesce(n)` is a no-op when the plan already has ≤ n
    * partitions, so a deployment sized for bigger batches raises the
    * conf and gets today's behavior back; the local default 1 keeps
    * file counts O(generations). */
  private[graft] def genParts(s: SparkSession): Int =
    s.conf.get("graft.artifact.genPartitions", "1").toInt

  /** Parquet read of an ARTIFACT relation with its schema memoized
    * per directory path. Every artifact relation's schema is fixed at
    * build time and kept generation-uniform by the append rule (the
    * ingest_ts uniformity check enforces exactly this), yet each
    * `spark.read.parquet(dir)` scheduled a footer-inference job —
    * fixed overhead per serve/probe that multiplies across the
    * per-micro-batch paths and the multi-shelf fan-out. First read
    * per path infers and memoizes; later reads declare the schema and
    * plan with zero jobs. Working copies are fresh temp dirs per
    * invocation, so entries grow O(invocations) of a few hundred
    * bytes — the same accepted bound as [[membersCarryTs]].
    *
    * Invariant relied on: inference is conf-independent across the
    * JVM's sessions — every session (mains and the shared test base)
    * sets `spark.sql.legacy.parquet.nanosAsLong=true`, so a path's
    * inferred schema is a pure function of its files. A session with
    * divergent parquet-inference confs must not share this memo. */
  private val dirSchemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]

  /** Soft bound on [[dirSchemaMemo]]: per-invocation work dirs (the
    * stream gates create a fresh dir per rep) grow it O(invocations);
    * past the cap the memo clears wholesale — correctness is
    * unaffected (the next read re-infers) and entries are a few
    * hundred bytes, so the cap only exists to make the growth
    * provably bounded for a long-lived service. */
  private val dirSchemaMemoMax = 8192

  /** Drop every schema memo at or under `dir` — called on artifact
    * REBUILD ([[ensureArtifact]]'s clear-and-build path), where a
    * relation may legitimately come back with a different schema at
    * the same path (the `membersCarryTs` flip got exactly this
    * invalidation; the schema memo must match it). */
  private[graft] def invalidateSchemaMemo(dir: java.nio.file.Path): Unit = {
    val prefix = dir.toAbsolutePath.toString
    val it = dirSchemaMemo.keySet().iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k == prefix || k.startsWith(prefix + "/")) it.remove()
    }
  }

  private[graft] def readStable(s: SparkSession, path: String): DataFrame = {
    if (dirSchemaMemo.size() > dirSchemaMemoMax) dirSchemaMemo.clear()
    val sch = dirSchemaMemo.computeIfAbsent(path,
      p => s.read.parquet(p).schema)
    s.read.schema(sch).parquet(path)
  }

  /** Pre-seed the schema memo for a relation whose schema the caller
    * already holds (it just wrote or copied the files): the read side
    * then plans with ZERO footer-inference jobs even on
    * per-invocation work dirs, where the path memo can never amortize
    * across reps (the stream gates s14-s20 create a fresh dir per
    * rep — one inference job per relation per rep was exactly the
    * fixed-overhead class r21 cut on the stable paths). */
  private[graft] def noteSchema(path: java.nio.file.Path,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    dirSchemaMemo.put(path.toAbsolutePath.toString, schema); ()
  }

  /** Seed `dst`'s schema memo from `src` — a working COPY shares its
    * source's schema by construction (same files; later appends keep
    * relations generation-uniform). The source's schema memoizes once
    * per JVM under its own stable path; every copy then seeds free. */
  private[graft] def seedSchemaFrom(s: SparkSession,
      dst: java.nio.file.Path, src: java.nio.file.Path): Unit = {
    val sch = dirSchemaMemo.computeIfAbsent(src.toAbsolutePath.toString,
      p => s.read.parquet(p).schema)
    noteSchema(dst, sch)
  }

  /** Small daemon pool for OVERLAPPING a maintenance verb's
    * independent generation writes (guide §2.6: actions are only
    * sequential because the driver calls them sequentially). A
    * micro-batch absorb's flags / plain-generation / relabel /
    * members writes share no dependency — each is a fixed-overhead
    * job over batch-sized cached input, so running them concurrently
    * collapses their scheduling quanta to roughly one. Jobs submitted
    * from these threads back-fill the same local executor; the caller
    * always awaits completion before the file-move commit. */
  private lazy val genWritePool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4,
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger(0)
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-genwrite-${n.incrementAndGet()}")
            t.setDaemon(true); t
          }
        }))

  /** Run the given write thunks concurrently on [[genWritePool]] and
    * await all; the first failure rethrows after all complete. */
  private[graft] def parallelWrites(writes: Seq[() => Unit]): Unit =
    if (writes.size <= 1) writes.foreach(_())
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val fs = writes.map(w => Future(w())(genWritePool))
      // await each — propagate the first exception only after every
      // in-flight write reached a terminal state (no torn temp dirs
      // racing the caller's cleanup)
      val results = fs.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      results.collectFirst { case scala.util.Failure(e) => throw e }
      ()
    }

  private[graft] def cutOf(idx: java.nio.file.Path): Long =
    new String(java.nio.file.Files.readAllBytes(idx.resolve("_CUT")),
      "UTF-8").trim.toLong

  /** Serve-path readiness assert: every artifact READ that can run
    * outside the building JVM (served buckets, partials reads, the
    * s15/s16 stream's bucket scan) checks the `_INDEX_READY` nonce is
    * present and non-empty before planning the scan. Within this JVM
    * the per-path lock already serializes mutators, so the assert is
    * about CROSS-PROCESS overlap: a reader that lands inside another
    * process's append mutation window (marker removed) now fails
    * loudly instead of serving half-appended state as ready (missing
    * buckets for min families; WRONG partial sums for q35). It is
    * check-then-read — a mutator can still remove the marker after
    * the check — so cross-process concurrent reads during a mutation
    * window remain formally out of scope (a multi-process deployment
    * adds a FileLock or a manifest commit); the assert converts the
    * common overlap from silent corruption to a loud retryable
    * error. */
  private[graft] def requireReady(out: java.nio.file.Path): java.nio.file.Path = {
    val marker = out.resolve("_INDEX_READY")
    require(java.nio.file.Files.exists(marker) &&
        java.nio.file.Files.size(marker) > 0,
      s"artifact $out is mid-mutation or unbuilt (_INDEX_READY absent): " +
        "a concurrent append/compaction owns it — retry after it commits")
    out
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** The FILE mechanics of an artifact append, shared by every
    * write-back family (t35 band buckets, m9 media hashes, q35/q36
    * history partials). The caller — holding [[artifactLock]]`(out)`
    * — has already written the delta's relation to `tmp`; this moves
    * its part files into `rel/` as `<kind>-<newCut>-NNN.parquet`,
    * advances `_CUT`, and re-stamps the nonce, with the
    * `_INDEX_READY` marker REMOVED across the whole mutation window:
    * a crash anywhere inside leaves a marker-less (rebuildable)
    * directory, never a half-appended "ready" one. `kind`
    * distinguishes generation FAMILIES sharing one relation — q39's
    * retraction commits NEGATED partials at the UNCHANGED watermark,
    * so its `retract-<cut>-NNN` files must not collide with (or be
    * cleared as a presumed crashed retry of) the `append-<cut>-NNN`
    * generation the same watermark already owns.
    *
    * `beforeReady` runs INSIDE the mutation window — after `_CUT`,
    * before the nonce re-stamp — for callers that must persist a
    * family marker atomically with the commit (q39's `_RETRACTED`,
    * q41's `_AGEOFF`): with the marker written post-commit there was
    * a reachable state where the generation was committed-and-READY
    * but the marker missing, and an intervening compaction folding
    * the generation (or an append advancing `_CUT`) made the retry's
    * own-generation clear match nothing — the negated partials then
    * applied TWICE. Inside the window no such state exists: a crash
    * anywhere before the nonce leaves a marker-less artifact that
    * degrades to rebuild.
    *
    * CROSS-PROCESS safety: the whole window runs under the
    * [[withArtifactLease]] file lease, and `expectedCut` (pass the
    * `_CUT` the delta was computed against) makes the commit
    * CONDITIONAL — the cut is re-read under the lease and a mismatch
    * throws [[ArtifactConflict]] instead of committing: two drivers
    * interleaving read-compute-commit on a shared index would
    * otherwise move colliding generation files and regress/
    * double-advance the watermark. Callers retry the whole cycle
    * ([[retryOnConflict]] — the recompute sees the new cut). */
  private[graft] val NoExpectedCut: Long = Long.MinValue

  private[graft] def commitArtifactAppend(out: java.nio.file.Path,
      tmp: java.nio.file.Path, newCut: Long,
      rel: String = "buckets", kind: String = "append",
      beforeReady: () => Unit = () => (),
      expectedCut: Long = NoExpectedCut): Unit = withArtifactLease(out) {
    if (expectedCut != NoExpectedCut) {
      val cur = cutOf(out)
      if (cur != expectedCut) {
        deleteRecursively(tmp.toFile)
        throw new ArtifactConflict(
          s"$out/_CUT moved $expectedCut -> $cur under this writer: " +
            "another mutator committed first — recompute the delta " +
            "against the new cut and retry")
      }
    }
    val marker = out.resolve("_INDEX_READY")
    java.nio.file.Files.deleteIfExists(marker)
    val dst = out.resolve(rel)
    // A crash between the moves and the _CUT advance leaves this
    // generation's files behind; a direct append retry recomputes the
    // same newCut but may PARTITION DIFFERENTLY (fewer/more part
    // files), so overwriting by name alone could leave stale
    // append-<newCut>-NNN files from the crashed attempt next to the
    // retry's. That is harmless only for idempotent merges (min,
    // hll_union) — q35's SUM partials would silently double-count —
    // so the whole generation is cleared first: delete-then-move makes
    // the retry exact for EVERY merge family, idempotent or not. (The
    // normal recovery path — a build — wipes the marker-less dir, but
    // the contract doesn't require one.)
    Generations.install(tmp, dst, Generations.prefix(kind, newCut))
    java.nio.file.Files.write(out.resolve("_CUT"),
      newCut.toString.getBytes("UTF-8"))
    beforeReady()
    java.nio.file.Files.write(marker,
      System.nanoTime().toString.getBytes("UTF-8"))
    ()
  }

  /** APPEND the tranche `(_CUT, upTo]` into the rw band index and
    * advance `_CUT` — the write-back that turns the build-once index
    * into a LIVING one. Without it every batch joins an ever-growing
    * unindexed tail and the "probe is linear in the batch" claim
    * quietly degrades; with it, day N's batch probes an index that
    * already absorbed days 1..N−1. The delta's buckets land as NEW
    * part files NEXT TO the existing ones (an O(batch) write — the
    * base relation is never rewritten; the LSM idiom), and the
    * serve/probe paths min-merge on read: canon = min doc id is
    * merge-associative, so append-then-merge ≡ a from-scratch rebuild
    * over base+delta EXACTLY (pinned in IndexAppendSpec, gated by the
    * full-corpus oracle).
    *
    * Crash-safe under the marker-last contract, serialized by the
    * per-path artifact lock: the delta buckets write to a temp dir
    * first (a failure there leaves the served index untouched), then
    * the `_INDEX_READY` nonce is REMOVED — from here until the final
    * re-stamp the artifact is "not ready", so a crash leaves a
    * marker-less (rebuildable) directory, never a half-appended
    * "ready" one — the part files move in, `_CUT` advances, and a
    * FRESH nonce stamps LAST. Idempotent: an already-absorbed tranche
    * yields an empty delta and the append is a no-op (nonce
    * untouched). Returns the index's cut after the call. */
  private[graft] def appendBandIndex(s: SparkSession, dir: String,
      upTo: Long = Long.MaxValue): Long =
    appendBandIndexAt(s, dir, rwBandIndexPath(s, dir), upTo)

  /** `autoCompactMax` > 0 arms the t40 policy: after the commit —
    * still under the artifact lock, so no reader or mutator can land
    * between the append and its triggered fold — a generation count
    * exceeding the threshold fires [[compactBandIndex]]. Off (0) by
    * default: t35/t36's gates pin the manual lifecycle. */
  private[graft] def appendBandIndexAt(s: SparkSession, dir: String,
      out: java.nio.file.Path, upTo: Long,
      autoCompactMax: Int = 0): Long = {
    artifactLock(out).synchronized { retryOnConflict() {
      val cut = cutOf(out)
      val delta = docs(s, dir)
        .filter(col("doc_id") > cut && col("doc_id") <= upTo)
      // bounds over the pushed delta scan only — never the corpus
      val hiRow = delta.agg(max(col("doc_id"))).head()
      if (hiRow.isNullAt(0)) cut
      else {
        val newCut = hiRow.getLong(0)
        val tmp = out.resolve("buckets_append")
        bandedSignaturesOf(delta)
          .groupBy(col("band"), col("sig"))
          .agg(min(col("doc_id")).as("canon"))
          .write.mode("overwrite").parquet(tmp.toString)
        // conditional on the cut this delta was computed against: a
        // concurrent driver's append conflicts and we recompute
        commitArtifactAppend(out, tmp, newCut, expectedCut = cut)
        if (autoCompactMax > 0 &&
            Generations.count(out.resolve("buckets")) > autoCompactMax) {
          compactBandIndex(s, out); ()
        }
        newCut
      }
    } }
  }

  /** The rw index's SERVED bucket relation: min-merge-on-read over the
    * base build's rows plus every appended tranche's — one map-side-
    * combinable groupBy on a bucket-cardinality relation. The 100 TB
    * operational complement is periodic compaction (rewrite the merged
    * relation, drop the delta files); it is semantics-free because min
    * is idempotent and associative, so the gate pins the un-compacted
    * read path. */
  private[graft] def servedBandBuckets(s: SparkSession, dir: String)
      : DataFrame =
    readStable(s, requireReady(rwBandIndexPath(s, dir))
        .resolve("buckets").toString)
      .groupBy(col("band"), col("sig"))
      .agg(min(col("canon")).as("canon"))

  /** Probe a delta tranche `(_CUT, upTo]` against the rw index — the
    * t34 probe against the LIVING index: after an append, a later
    * batch's duplicates of an EARLIER batch's docs flag too (the
    * cross-batch pin in IndexAppendSpec). The join reads the bucket
    * files RAW — a (band, sig) key appended more than once matches
    * its probe row more than once, and the existing per-doc
    * min-aggregate is exactly the merge that makes that harmless. */
  private[graft] def rwIndexProbe(s: SparkSession, dir: String,
      upTo: Long = Long.MaxValue): DataFrame = {
    val idx = requireReady(java.nio.file.Paths.get(buildRwBandIndex(s, dir)))
    val delta = docs(s, dir)
      .filter(col("doc_id") > cutOf(idx) && col("doc_id") <= upTo)
    bandedSignaturesOf(delta)
      .select(col("doc_id"), col("band"), col("sig"))
      .join(readStable(s, idx.resolve("buckets").toString),
        Seq("band", "sig"))
      .groupBy(col("doc_id"))
      .agg(min(col("band")).as("band"), min(col("canon")).as("dup_of"))
      .orderBy(col("doc_id"))
  }

  /** t35: index write-back, served — build the base index (ids ≤ mid,
    * t34's artifact layout), APPEND the delta tranche into it
    * ([[appendBandIndex]]: new bucket files + `_CUT` advance, atomic
    * under the marker-last contract), then serve the merged bucket
    * relation. The oracle is the from-scratch rebuild over the FULL
    * corpus — append must be INVISIBLE in the result (canon = min is
    * merge-associative), which is the property that lets a 100 TB
    * deployment absorb each day's batch in O(batch) instead of
    * re-banding the corpus. Idempotent across runs: once `_CUT` is at
    * the corpus max the append no-ops and the serve is a plain
    * bucket-relation read. */
  def indexAppendServe(s: SparkSession, dir: String): DataFrame = {
    buildRwBandIndex(s, dir)
    appendBandIndex(s, dir)
    servedBandBuckets(s, dir).orderBy(col("band"), col("sig"))
  }

  // ------------------- t36: COMPACTION (fold the generations back in)

  /** t36's OWN copy of the band index (t34 read-only / t35 rw / s15
    * frozen-mid-append / t36 compacted — gates stay order-independent
    * by never sharing a mutable artifact). */
  private[graft] def t36BandIndexPath(s: SparkSession, dir: String)
      : java.nio.file.Path =
    artifactDir("band_index_t36",
      s"bandindext36:$dir@${pathFingerprint(s, s"$dir/documents.parquet")}")

  /** COMPACT an artifact relation: rewrite the merge-folded relation
    * as a FRESH base generation and drop every `append-*` file — the
    * operational complement the write-back ([[commitArtifactAppend]])
    * opens the need for. Append is O(batch) precisely because it
    * never rewrites the base, so generations ACCUMULATE: a (band,
    * sig) key appended in k generations costs k raw-read matches per
    * probe ([[rwIndexProbe]]'s contract), and after N nightly batches
    * the read amplification is O(generations), not O(corpus growth).
    * Compaction closes that loop — one relation-sized fold (the LSM
    * major compaction, amortized across the N appends it folds)
    * resets the read path to a single generation. It is
    * SEMANTICS-FREE by construction: every write-back family chose a
    * merge that is associative (min / integer-sum / hll_union), so
    * fold-then-serve ≡ serve-raw byte-identically — which is exactly
    * why the gate must pin it (a compaction that changed any result
    * would be a bug, not a tuning choice).
    *
    * Crash-safe under the SAME marker-last contract as the append:
    * the folded relation materializes to a temp dir first (a failure
    * there leaves the served index untouched), then the
    * `_INDEX_READY` nonce is REMOVED, the old generations are
    * deleted, the compacted part files move in as
    * `compact-<cut>-NNN.parquet`, and a fresh nonce stamps LAST — a
    * crash inside the window leaves a marker-less directory that the
    * next [[ensureArtifact]] wipes and rebuilds (degrade-to-rebuild,
    * never half-compacted-but-"ready"). `_CUT` is untouched:
    * compaction changes the file layout, never the watermark, so
    * appends resume against the compacted base exactly where they
    * left off. No-op (returns false) when no `append-*` generation
    * exists — a converged artifact is re-served, not re-written, per
    * invocation. */
  private[graft] def compactArtifact(s: SparkSession,
      out: java.nio.file.Path, rel: String = "buckets")(
      merge: DataFrame => DataFrame): Boolean =
    artifactLock(out).synchronized { withArtifactLease(out) {
      // only a READY artifact compacts: a marker-less directory is
      // mid-mutation (another process) or crash debris — folding it
      // would bake half-committed state into the new base; rebuild
      // owns that path. With family markers now written INSIDE the
      // commit window ([[commitArtifactAppend]]'s beforeReady), a
      // ready artifact can never hold a committed retract/age-off
      // generation whose marker is missing — the interleave where
      // compaction folded an unmarked retraction and the retry
      // double-subtracted is unreachable.
      requireReady(out)
      val dst = out.resolve(rel)
      // retract*/ageoff* generations (q39/q41's negated partials)
      // compact the same way appends do: the fold nets them against
      // the mass they cancel, so the compacted base carries the
      // retraction folded in. resketch-* generations (q40) do NOT
      // fold — they REPLACE their keys' history and the read path
      // prefers them; a flat fold would re-add the replaced rows.
      val files = Option(dst.toFile.listFiles()).toSeq.flatten
      require(!files.exists(_.getName.startsWith("resketch-")),
        s"$out/$rel holds resketch-* generations: a flat fold would " +
          "re-add the rows they replace — serve through the family's " +
          "replacement-preferring merge-on-read " +
          "(Relational.q40MergedEstimates); resketch artifacts have no " +
          "flat compaction")
      val hasAppends = files.exists(f => f.getName.startsWith("append-") ||
        f.getName.startsWith("retract") || f.getName.startsWith("ageoff"))
      if (!hasAppends) false
      else {
        val cut = cutOf(out)
        val tmp = out.resolve(s"${rel}_compact")
        // materialize the fold BEFORE touching the served relation
        // (parquet write is eager; a failure here aborts with the
        // index still intact and ready)
        merge(s.read.parquet(dst.toString))
          .write.mode("overwrite").parquet(tmp.toString)
        val marker = out.resolve("_INDEX_READY")
        java.nio.file.Files.deleteIfExists(marker)
        deleteRecursively(dst.toFile)
        Generations.install(tmp, dst, Generations.prefix("compact", cut))
        java.nio.file.Files.write(marker,
          System.nanoTime().toString.getBytes("UTF-8"))
        true
      }
    } }

  /** The band-bucket fold — the same min-merge the serve path applies
    * on read, here materialized once by the compaction. */
  private[graft] def compactBandIndex(s: SparkSession,
      out: java.nio.file.Path): Boolean =
    compactArtifact(s, out)(
      _.groupBy(col("band"), col("sig"))
        .agg(min(col("canon")).as("canon")))

  /** t36: index COMPACTION, served — build the base index on t36's
    * own copy, APPEND the delta tranche (two generations on disk, the
    * t35 state), then COMPACT: the merged bucket relation rewrites as
    * one fresh generation and the `append-*` files drop. The oracle
    * is t35's UNCHANGED — the from-scratch full-corpus bucket
    * relation — because compaction must be invisible in the result;
    * what it changes is the READ side, which IndexAppendSpec pins
    * (file-generation drop, byte-identical serve, crash degrading to
    * rebuild, appends resuming after) and ScaleDemo's inc phase
    * measures (N-generation read amplification before vs after).
    * Idempotent: once compacted, the append no-ops (cut at corpus
    * max) and the compaction no-ops (no append generation), so the
    * steady-state serve is a plain single-generation read. */
  def indexCompactServe(s: SparkSession, dir: String): DataFrame = {
    val out = t36BandIndexPath(s, dir)
    buildBandIndexAt(s, dir, out)
    appendBandIndexAt(s, dir, out, Long.MaxValue)
    compactBandIndex(s, out)
    readStable(s, requireReady(out).resolve("buckets").toString)
      .groupBy(col("band"), col("sig"))
      .agg(min(col("canon")).as("canon"))
      .orderBy(col("band"), col("sig"))
  }

  // ------------ t37: DELETION from a living index (tombstones +
  // re-election)

  /** Where t37's MEMBERSHIP band index lives. canon = min is not
    * INVERTIBLE: the canon-only relation t34/t35/t36 serve cannot
    * answer "who is the next-min member?" when a canon doc is taken
    * down (GDPR erasure, copyright takedown) — the index would keep
    * pointing at a ghost, and re-deriving the answer needs either the
    * corpus (an O(corpus) re-band, exactly what an index exists to
    * avoid) or the deleted doc's text (which an erasure request means
    * you may no longer HOLD). t37's artifact therefore persists the
    * full bucket MEMBERSHIP `(band, sig, doc_id)` instead of the
    * folded canon: deletion becomes index-local — an O(deleted)
    * tombstone write at takedown time and one anti-join at read time,
    * with re-election falling out of the same min-aggregate the serve
    * path already runs. The storage price is the duplicate mass: for
    * a mostly-singleton bucket distribution the membership relation
    * has nearly the same row count as the folded one (one row per
    * (doc, band) either way); only duplicated docs add rows — the
    * deliberate trade for invertibility. */
  private[graft] def t37IndexPath(s: SparkSession, dir: String)
      : java.nio.file.Path =
    artifactDir("band_members_t37",
      s"bandmembers:$dir@${pathFingerprint(s, s"$dir/documents.parquet")}")

  /** BUILD the membership artifact: the full corpus's banded rows,
    * unfolded — one `(band, sig, doc_id)` row per doc per band, the
    * relation every later takedown anti-joins against. Idempotent
    * under the nonce-marker contract. */
  private[graft] def buildMembersIndex(s: SparkSession, dir: String): String =
    buildMembersIndexAt(s, dir, t37IndexPath(s, dir))

  private[graft] def buildMembersIndexAt(s: SparkSession, dir: String,
      out: java.nio.file.Path): String = {
    ensureArtifact(out) {
      bandedSignaturesOf(docs(s, dir))
        .select(col("band"), col("sig"), col("doc_id"))
        .write.mode("overwrite").parquet(out.resolve("members").toString)
    }
  }

  /** t37's deterministic takedown list, derived from the INDEX alone
    * (production receives it from outside; the fixture needs it
    * reproducible in the oracle): every doc that is the canon of a
    * multi-member bucket — the worst case for deletion, because every
    * such takedown forces a re-election. An index-only scan: the
    * corpus is never touched, and no deleted doc's text is needed. */
  private def t37TakedownSet(members: DataFrame): DataFrame =
    members.groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("doc_id")).distinct()

  /** Apply a takedown ONCE per (artifact, `marker`) — the deletion
    * mechanics SHARED by every family that buys invertibility by
    * persisting membership unfolded (t37 band members, m11 media
    * members, v21 vector members) and by the policy verbs composed on
    * top (t38's TTL age-off, t39's external erasure list, the s16
    * stream's canon takedown): derive the id list via `takedownOf`
    * from the `rel` relation ALONE (index-local — the corpus is never
    * touched; `takedownOf` may also ignore its argument entirely and
    * return an EXTERNAL id relation, t39's shape), land it as
    * `delete-<gen>-NNN.parquet` under `tombstones/` with the same
    * marker-last discipline as every artifact mutation (the nonce is
    * off across the window; a crash degrades to rebuild), and record
    * the `marker` file — which SURVIVES compaction (compaction folds
    * the tombstone FILES away), so a compacted index doesn't silently
    * re-derive a takedown against its own re-elected canons.
    *
    * `gen`/`marker` key the takedown GENERATION: age-off advances a
    * horizon repeatedly, so each horizon gets its own marker
    * (idempotent PER HORIZON, not per artifact) and its own
    * `delete-<gen>-*` files next to earlier generations' — the
    * applied-check is marker-only for exactly this reason (a
    * files-exist check would make every horizon after the first a
    * silent no-op; crash robustness needs no file check — a crash
    * inside the window leaves a marker-less artifact that degrades to
    * rebuild). O(deleted) at takedown time — the serve pays the
    * anti-join. Idempotent: an applied takedown short-circuits; an
    * EMPTY takedown writes its marker but mutates nothing (no nonce
    * window, no empty generation on disk — t39's absent-id no-op). */
  private[graft] def applyTakedown(s: SparkSession,
      out: java.nio.file.Path, rel: String = "members",
      gen: String = "000", marker: String = "_TAKEDOWN",
      knownNonEmpty: Boolean = false)(
      takedownOf: DataFrame => DataFrame): Unit = {
    artifactLock(out).synchronized { withArtifactLease(out) {
      val tombs = out.resolve("tombstones")
      val done = out.resolve(marker)
      // marker re-checked under the LEASE: another process may have
      // applied this takedown while we waited
      if (!java.nio.file.Files.exists(done)) {
        val tmp = out.resolve("tombstones_tmp")
        val td = takedownOf(readStable(s, out.resolve(rel).toString))
        td.repartition(genParts(s))
          .write.mode("overwrite").parquet(tmp.toString)
        // `knownNonEmpty`: a caller that already proved its id set
        // non-empty (t43Forget probes it before calling) skips the
        // read-back — the schema-inference + take(1) jobs were two
        // fixed-overhead jobs per forget for a fact already in hand
        if (!knownNonEmpty && s.read.parquet(tmp.toString).isEmpty) {
          deleteRecursively(tmp.toFile)
          java.nio.file.Files.write(done, Array.emptyByteArray)
        } else {
          val ready = out.resolve("_INDEX_READY")
          java.nio.file.Files.deleteIfExists(ready)
          Generations.install(tmp, tombs, Generations.prefix("delete", gen))
          // the writer's own schema seeds the read memo: the serve's
          // tombstone anti-join plans with no footer-inference job
          // even on a per-invocation work dir (generations are
          // schema-uniform per family, so later takedowns agree)
          noteSchema(tombs, td.schema)
          java.nio.file.Files.write(done, Array.emptyByteArray)
          java.nio.file.Files.write(ready,
            System.nanoTime().toString.getBytes("UTF-8"))
        }
        ()
      }
    } }
  }

  private[graft] def tombstoneTakedown(s: SparkSession, dir: String): Unit =
    applyTakedown(s, t37IndexPath(s, dir))(t37TakedownSet)

  /** DISTINCT-id-set fingerprint of an erasure request — the
    * compliance key shared by every external-list verb (the q44/s16
    * rule): the tag derives from WHAT is being erased, so a second
    * DIFFERENT list lands beside the first while a re-submitted list
    * — byte-identical OR differing only in duplicate multiplicity,
    * semantically the same request — shares the tag and stays a
    * marker no-op.
    *
    * The reduction is ORDER-INSENSITIVE and never materializes the
    * list: commutative aggregates over TWO independent per-id 64-bit
    * hashes (count, overflow-free decimal sum, and bit-XOR of each)
    * identify the set, and the tag is the md5 of that tuple. The
    * pre-r21 formulation
    * (`md5(concat_ws(sort_array(collect_list(id))))`) concatenated
    * every sorted id into ONE aggregation buffer — O(list) bytes in a
    * single row on the driver, a ~100 MB row at a pathological 10M-id
    * list (guide §5: the driver should do no data work); this one is
    * O(1) driver state at any list size, deterministic across
    * partitionings, engines and re-runs (xxhash64's seed is fixed in
    * Spark), and pinned at 1M ids in TombstoneSpec. The SECOND hash
    * stream (the same xxhash64 seeded through a salt column) exists
    * because sum+XOR of one hash is collision-engineerable, and this
    * tag is a COMPLIANCE key — a deliberately-colliding second list
    * must not silently no-op an erasure; forging simultaneous
    * sum/XOR collisions across two independent hash streams is no
    * easier than breaking the hash itself. MIGRATION: a RULE change
    * (this is [[erasureFpRule]] `fp3`; the r21 single-hash triple was
    * fp2, the r20 sorted-concat fp1) re-tags every list — the
    * tombstone shelves re-apply idempotently under the new tag, and
    * the refusal-capable cluster shelf folds the rule version into
    * its artifact key so old-rule artifacts are abandoned and rebuilt
    * instead of refusing (the r21 t46/t47 lesson). */
  private[graft] val erasureFpRule = "fp3"

  private[graft] def erasureFingerprint(ids: DataFrame,
      idCol: String = "doc_id"): String = {
    val r = ids.select(col(idCol)).distinct()
      .select(xxhash64(col(idCol)).as("h"),
        xxhash64(lit("fp-salt-2"), col(idCol)).as("h2"))
      .agg(count(lit(1)).as("n"),
        sum(col("h").cast("decimal(38,0)")).as("s"),
        expr("bit_xor(h)").as("x"),
        sum(col("h2").cast("decimal(38,0)")).as("s2"),
        expr("bit_xor(h2)").as("x2"))
      .head()
    def lx(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    val key = s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}:" +
      s"${lx(2)}:${Option(r.get(3)).getOrElse(0)}:${lx(4)}"
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
  }

  /** EXTERNAL-list takedown, fingerprint-keyed — the ONE shared verb
    * behind t39 (band), m14 (media), and v24 (vector): tombstone the
    * externally-supplied ids through [[applyTakedown]] with
    * `gen`/`marker` derived from the list's [[erasureFingerprint]].
    * A fixed marker here would silently no-op the SECOND, different
    * erasure list the artifact ever receives — the exact compliance
    * failure the fingerprint rule exists to prevent (production's
    * shape is a legal-hold queue delivering a new list nightly) —
    * and two lists landing under one fixed gen would collide on the
    * `delete-<gen>-NNN` filenames. The distinct() also deduplicates
    * the tombstone rows themselves (the serve's anti-join is already
    * idempotent on repeats; smaller tombstones are free). Pinned in
    * TombstoneSpec: second-different-list lands, re-submitted list
    * no-ops, on all three shelves. MIGRATION: an artifact erased
    * under a PRIOR fingerprint rule (e.g. the pre-distinct tag)
    * won't match the new marker — the tombstone shelves simply
    * re-apply (idempotent anti-join); the cluster shelf refuses
    * loudly with its documented remedy (compact, then re-submit). */
  private[graft] def applyTakedownExternal(s: SparkSession,
      out: java.nio.file.Path, ids: DataFrame,
      idCol: String = "doc_id", tag: String = null): Unit = {
    val t = if (tag != null) tag else erasureFingerprint(ids, idCol)
    applyTakedown(s, out, gen = s"x$t",
      marker = s"_TAKEDOWN_X$t")(
      _ => ids.select(col(idCol)).distinct())
  }

  /** The tombstone-aware membership read, shared by the deletable
    * families' serves: anti-join the tombstones on `idCol` when a
    * delete generation exists — a compacted (or never-deleted-from)
    * index plans NO anti-join at all. One keyed anti-join over
    * index-cardinality relations; the corpus never rejoins the
    * plan. */
  private[graft] def aliveMembers(s: SparkSession,
      idx: java.nio.file.Path, idCol: String = "doc_id"): DataFrame = {
    val members = readStable(s, idx.resolve("members").toString)
    val hasTombs = Option(idx.resolve("tombstones").toFile.listFiles())
      .exists(_.exists(_.getName.endsWith(".parquet")))
    if (!hasTombs) members
    else members.join(
      readStable(s, idx.resolve("tombstones").toString)
        .select(col(idCol)), Seq(idCol), "left_anti")
  }

  /** The tombstone-aware serve: surviving membership, then the usual
    * min fold — RE-ELECTION is nothing extra, it IS the fold over the
    * surviving members (a bucket whose canon died yields its next-min
    * member; a bucket with no survivors vanishes, rows and all). */
  private[graft] def tombstoneServedBuckets(s: SparkSession, dir: String)
      : DataFrame =
    aliveMembers(s, requireReady(t37IndexPath(s, dir)))
      .groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("canon"))

  /** t37: takedown + re-election, served — build the membership
    * artifact, apply the deterministic takedown (every multi-member
    * bucket's canon dies), serve the re-elected bucket relation. The
    * oracle is the REBUILD over corpus-minus-deleted: deletion must
    * be exactly as if the docs had never been ingested, which holds
    * because dropping a doc's membership rows is precisely what
    * re-banding the corpus without it would have produced. The
    * compaction complement ([[compactTombstoneIndex]]) folds the
    * tombstones into the membership files and drops the delete-*
    * generation — byte-identical serve, pinned in TombstoneSpec. */
  def tombstoneReelect(s: SparkSession, dir: String): DataFrame = {
    buildMembersIndex(s, dir)
    tombstoneTakedown(s, dir)
    tombstoneServedBuckets(s, dir).orderBy(col("band"), col("sig"))
  }

  /** Fold the tombstones in: rewrite `members` minus the tombstoned
    * docs as one fresh generation and DROP the delete-* files — the
    * deletion-side analogue of [[compactArtifact]], under the same
    * marker-last contract (materialize first, nonce off, swap, nonce
    * last; a crash degrades to rebuild). After it, the anti-join's
    * build side is empty — the serve is a plain scan-and-fold again —
    * and a LATER takedown starts a fresh tombstone generation against
    * the compacted membership. */
  private[graft] def compactTombstoneIndex(s: SparkSession,
      out: java.nio.file.Path, idCol: String = "doc_id")
      : Boolean = artifactLock(out).synchronized { withArtifactLease(out) {
    val tombs = out.resolve("tombstones")
    val hasTombs = Option(tombs.toFile.listFiles())
      .exists(_.exists(_.getName.startsWith("delete-")))
    if (!hasTombs) false
    else {
      val dst = out.resolve("members")
      val tmp = out.resolve("members_compact")
      s.read.parquet(dst.toString)
        .join(s.read.parquet(tombs.toString).select(col(idCol)),
          Seq(idCol), "left_anti")
        .write.mode("overwrite").parquet(tmp.toString)
      val marker = out.resolve("_INDEX_READY")
      java.nio.file.Files.deleteIfExists(marker)
      deleteRecursively(dst.toFile)
      deleteRecursively(tombs.toFile)
      java.nio.file.Files.createDirectories(tombs)
      Generations.install(tmp, dst, Generations.prefix("compact", 0))
      java.nio.file.Files.write(marker,
        System.nanoTime().toString.getBytes("UTF-8"))
      true
    }
  } }

  // ------------ t38: RETENTION (TTL age-off — takedown by predicate)

  /** t38's OWN membership artifact (t37 holds the canon-takedown's
    * tombstones; gates stay order-independent by never sharing a
    * mutable artifact). The build also persists `_HORIZONS` — the two
    * deterministic age-off horizons (`lo + span/5`, `lo + 2·span/5`
    * over the doc-id span) — so the steady-state gate never re-scans
    * the corpus for bounds (q33's lesson: re-aggregating min/max per
    * serve is itself a full-column scan at 100 TB). In production the
    * horizon is an INPUT — the retention policy's cutoff, advanced by
    * a scheduler; the derivation here exists only to make the
    * fixture's horizons reproducible inside static oracle SQL. */
  private[graft] def t38IndexPath(s: SparkSession, dir: String)
      : java.nio.file.Path =
    artifactDir("band_members_t38",
      s"bandmemberst38:$dir@${pathFingerprint(s, s"$dir/documents.parquet")}")

  private[graft] def buildAgeOffIndex(s: SparkSession, dir: String)
      : java.nio.file.Path = {
    val out = t38IndexPath(s, dir)
    ensureArtifact(out) {
      val d = docs(s, dir)
      // one-time bounds read, confined to the build
      val Array(lo, hi) = d.agg(min(col("doc_id")), max(col("doc_id")))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      bandedSignaturesOf(d)
        .select(col("band"), col("sig"), col("doc_id"))
        .write.mode("overwrite").parquet(out.resolve("members").toString)
      java.nio.file.Files.write(out.resolve("_HORIZONS"),
        s"${lo + (hi - lo) / 5} ${lo + (hi - lo) * 2 / 5}"
          .getBytes("UTF-8"))
    }
    out
  }

  /** AGE OFF everything at or below `horizon` — a takedown whose id
    * list is a PREDICATE over the index's own columns, composed
    * through the SAME [[applyTakedown]] hook every erasure flows
    * through: the predicate evaluates on the members relation alone
    * (index-local — at 100 TB the nightly age-off never re-reads the
    * corpus, and the expired docs' text — which a retention policy
    * may require you no longer hold — never rejoins any plan). Each
    * horizon is its own takedown GENERATION (`delete-h<horizon>-*`
    * files, `_TAKEDOWN_<horizon>` marker), so advancing the horizon
    * is idempotent PER HORIZON: re-running yesterday's cutoff
    * short-circuits, today's lands beside it, and compaction folds
    * any number of age-off generations into the membership base in
    * one pass. `idCol` names the membership id column (doc_id on the
    * band/media shelves, vec_id on the vector shelf) — the predicate
    * is the only shelf-varying part, which is what makes the verb
    * shelf-agnostic. */
  private[graft] def ageOffMembers(s: SparkSession,
      out: java.nio.file.Path, horizon: Long,
      idCol: String = "doc_id", tsCol: String = null): Unit =
    applyTakedown(s, out, gen = s"h$horizon",
      marker = s"_TAKEDOWN_$horizon")(
      _.filter(col(Option(tsCol).getOrElse(idCol)) <= horizon)
        .select(col(idCol)).distinct())

  /** t38: retention/TTL age-off, served — build the membership
    * artifact, advance the horizon TWICE (two age-off generations on
    * disk — the steady state of a scheduled retention job), serve the
    * re-elected bucket relation over the survivors. The oracle is the
    * REBUILD over corpus-minus-expired (docs above the second
    * horizon): age-off must be exactly as if the expired tranche had
    * never been ingested. Re-election is the same min fold deletion
    * already pays ([[aliveMembers]]); multi-generation fold +
    * horizon idempotence pinned in TombstoneSpec. */
  def indexAgeOff(s: SparkSession, dir: String): DataFrame = {
    val out = buildAgeOffIndex(s, dir)
    val Array(h1, h2) = new String(java.nio.file.Files.readAllBytes(
      out.resolve("_HORIZONS")), "UTF-8").trim.split("\\s+").map(_.toLong)
    ageOffMembers(s, out, h1)
    ageOffMembers(s, out, h2)
    aliveMembers(s, requireReady(out))
      .groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("canon"))
      .orderBy(col("band"), col("sig"))
  }

  // ------------ t41: EVENT-TIME retention (TTL over a timestamp the
  // members relation CARRIES, not an id-span predicate)

  /** t41's OWN membership artifact. t38's horizon is an id-span
    * predicate; real retention policies are EVENT-TIME — "expire
    * everything crawled before T" — and crawl time is NOT monotone
    * with doc id, so the expired set is non-contiguous in id space.
    * The documents fixture carries no timestamp column, so the build
    * derives a deterministic ingest time per doc (the t16 md5 idiom —
    * a 32-bit value both engines reproduce bit-identically from the
    * id; in production this is the real crawl/ingest timestamp the
    * build has in hand) and PERSISTS IT IN THE MEMBERS RELATION: the
    * nightly age-off then filters the index's own `ingest_ts` column —
    * index-local, no corpus re-read, no doc text — exactly t38's verb
    * with the predicate column swapped ([[ageOffMembers]]' `tsCol`). */
  private[graft] def t41IndexPath(s: SparkSession, dir: String)
      : java.nio.file.Path =
    artifactDir("band_members_t41",
      s"bandmemberst41:$dir@${pathFingerprint(s, s"$dir/documents.parquet")}")

  /** The derived per-doc ingest time: the first 8 md5 hex digits of
    * the decimal id as a BIGINT — uniform over [0, 2^32), reproduced
    * verbatim by the oracle's `('0x' || substr(md5(...)))::BIGINT`. */
  /** The derived per-id ingest time shared by every event-time
    * retention fixture (t41 band, m13 media, v23 vector): the first 8
    * md5 hex digits of the decimal id as a BIGINT — uniform over
    * [0, 2^32), reproduced verbatim by the oracle's
    * `('0x' || substr(md5(...)))::BIGINT`. */
  private[graft] def ingestTsExpr(idCol: String): String =
    s"CAST(conv(substr(md5(CAST($idCol AS STRING)), 1, 8), 16, 10) " +
      "AS BIGINT)"

  private[graft] val t41IngestTs = ingestTsExpr("doc_id")

  // does this artifact's members relation carry `ingest_ts`? One
  // footer read per artifact path, memoized — the property is fixed
  // at build time (buildT42Index withTs / buildT45Index) and the
  // streamed absorb asks per micro-batch
  private val membersCarryTs =
    new java.util.concurrent.ConcurrentHashMap[java.nio.file.Path,
      java.lang.Boolean]()

  // the policy horizons: fifths of the derived-time RANGE — pure
  // compile-time constants on both sides (no bounds scan even at
  // build), ⌊2^32/5⌋ and ⌊2^32·2/5⌋
  private[graft] val T41H1 = 858993459L
  private[graft] val T41H2 = 1717986918L

  private[graft] def buildTimeAgeOffIndex(s: SparkSession, dir: String)
      : java.nio.file.Path = {
    val out = t41IndexPath(s, dir)
    ensureArtifact(out) {
      bandedSignaturesOf(docs(s, dir))
        .select(col("band"), col("sig"), col("doc_id"))
        .withColumn("ingest_ts", org.apache.spark.sql.functions
          .expr(t41IngestTs))
        .write.mode("overwrite").parquet(out.resolve("members").toString)
    }
    out
  }

  /** t41: EVENT-TIME retention, served — build the timestamp-carrying
    * membership artifact, advance the TIME horizon twice through the
    * same [[ageOffMembers]] verb (per-horizon markers, per-horizon
    * `delete-h*` generations — t38's idempotence and fold story
    * verbatim), serve the re-elected buckets over the survivors. The
    * expired set is NON-CONTIGUOUS in id space (the hash-time
    * interleaves expired and surviving ids — pinned in TombstoneSpec),
    * which is precisely what the id-span predicate cannot express and
    * why the timestamp must ride IN the index: at 100 TB the age-off
    * stays O(expired) + index-local either way. Oracle = the rebuild
    * over docs above the second time horizon. */
  def indexTimeAgeOff(s: SparkSession, dir: String): DataFrame = {
    val out = buildTimeAgeOffIndex(s, dir)
    ageOffMembers(s, out, T41H1, tsCol = "ingest_ts")
    ageOffMembers(s, out, T41H2, tsCol = "ingest_ts")
    aliveMembers(s, requireReady(out))
      .groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("canon"))
      .orderBy(col("band"), col("sig"))
  }

  // ------------ t39: EXTERNALLY-SUPPLIED takedown list, end-to-end

  private[graft] def t39IndexPath(s: SparkSession, dir: String)
      : java.nio.file.Path =
    artifactDir("band_members_t39",
      s"bandmemberst39:$dir@${pathFingerprint(s, s"$dir/documents.parquet")}")

  /** Stage t39's EXTERNAL erasure list as an input relation — in
    * production the ids arrive from outside (a legal-hold queue, a
    * GDPR request log): a parquet relation beside the corpus, NOT
    * derived from the index. The fixture's list is deterministic so
    * the oracle can reproduce it: every corpus-range id divisible by
    * 7, PLUS an id absent from the index (`hi + 1000` — the takedown
    * must no-op on it, not error) and a REPEATED id (a re-submitted
    * request must be idempotent). Staged once per fingerprint under
    * the nonce-marker contract. */
  private[graft] def stageT39Erasures(s: SparkSession, dir: String)
      : java.nio.file.Path = {
    val out = artifactDir("t39_erasures",
      s"t39erasures:$dir@${pathFingerprint(s, s"$dir/documents.parquet")}")
    ensureArtifact(out) {
      val Array(lo, hi) = docs(s, dir)
        .agg(min(col("doc_id")), max(col("doc_id")))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      // ceiling via floor division: (lo + 6) / 7 truncates toward zero,
      // which for a negative lo SKIPS the first in-range multiple of 7
      // and diverges from the doc_id % 7 <> 0 oracle
      val first = Math.floorDiv(lo + 6, 7) * 7
      import s.implicits._
      s.range(first, hi + 1, 7).select(col("id").as("doc_id"))
        .unionAll(Seq(hi + 1000L, first).toDF("doc_id"))
        .coalesce(1)
        .write.mode("overwrite").parquet(out.resolve("erasures").toString)
    }
    out
  }

  /** t39: the takedown ids arrive as an INPUT RELATION and flow
    * through [[applyTakedown]] unchanged — `takedownOf` simply
    * ignores the members relation and returns the external list
    * (production's shape; t37/t38 derive theirs index-side only for
    * fixture reproducibility). The edge semantics fall out of the
    * anti-join: an id absent from the index matches no member row
    * (no-op, never an error), a repeated id matches the same rows
    * once — both pinned in TombstoneSpec. Oracle = the rebuild over
    * corpus minus the PRESENT listed docs. */
  def takedownExternal(s: SparkSession, dir: String): DataFrame = {
    val out = t39IndexPath(s, dir)
    buildMembersIndexAt(s, dir, out)
    val ext = stageT39Erasures(s, dir)
    applyTakedownExternal(s, out,
      readStable(s, ext.resolve("erasures").toString))
    aliveMembers(s, requireReady(out))
      .groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("canon"))
      .orderBy(col("band"), col("sig"))
  }

  // ------------ t40: AUTO-COMPACTION policy (fold when generations
  // exceed a threshold)

  /** t40's OWN band-index copy (t35 rw / t36 manual-compact / t40
    * policy-compact — order-independent gates). The `_TRANCHES` file
    * stages the two deterministic tail cuts (thirds of the above-mid
    * span) so the gate's three appends are reproducible without a
    * per-serve bounds scan. */
  private[graft] def t40IndexPath(s: SparkSession, dir: String)
      : java.nio.file.Path =
    artifactDir("band_index_t40",
      s"bandindext40:$dir@${pathFingerprint(s, s"$dir/documents.parquet")}")

  /** t40: the auto-compact POLICY — t36's fold wired to a threshold
    * instead of an operator invocation: when a committed append
    * leaves MORE than `autoCompactMax` generations on disk, the
    * append itself triggers the fold, still inside the artifact lock
    * ([[appendBandIndexAt]]). This is the missing operational loop:
    * without it a nightly append accumulates generations until
    * someone remembers to compact — read amplification grows
    * O(nights) unbounded; with it the generation count is bounded by
    * the policy (≤ threshold + 1 transiently, ≤ threshold served)
    * FOREVER, amortizing one relation-sized fold across every
    * `threshold` appends. The gate runs three appends at threshold 2:
    * append 1 leaves two generations (no fold — the policy must not
    * fire AT the threshold), append 2 leaves three and auto-folds to
    * one, append 3 lands beside the compacted base — and the serve is
    * byte-identical to t35's full-corpus oracle throughout, because
    * the fold is the same semantics-free min merge. Trigger exactness,
    * `_CUT` untouched by the fold, and append-resumes pinned in
    * IndexAppendSpec. */
  def autoCompactServe(s: SparkSession, dir: String): DataFrame = {
    val out = t40IndexPath(s, dir)
    buildBandIndexAt(s, dir, out)
    val cutsFile = out.resolve("_TRANCHES")
    if (!java.nio.file.Files.exists(cutsFile)) {
      // maintenance-time staging of the fixture's batch boundaries
      val hi = docs(s, dir).agg(max(col("doc_id"))).head().getLong(0)
      val mid = cutOf(out)
      java.nio.file.Files.write(cutsFile,
        s"${mid + (hi - mid) / 3} ${mid + (hi - mid) * 2 / 3}"
          .getBytes("UTF-8"))
    }
    val Array(c1, c2) = new String(java.nio.file.Files.readAllBytes(
      cutsFile), "UTF-8").trim.split("\\s+").map(_.toLong)
    appendBandIndexAt(s, dir, out, c1, autoCompactMax = 2)
    appendBandIndexAt(s, dir, out, c2, autoCompactMax = 2)
    appendBandIndexAt(s, dir, out, Long.MaxValue, autoCompactMax = 2)
    readStable(s, requireReady(out).resolve("buckets").toString)
      .groupBy(col("band"), col("sig"))
      .agg(min(col("canon")).as("canon"))
      .orderBy(col("band"), col("sig"))
  }

  /** t29: leakage-safe train/eval split — the assignment rule a
    * decontaminated pipeline needs: near-duplicate docs must NEVER
    * straddle the split (a t13 cluster member in train with its twin
    * in eval leaks training text into evaluation, and a per-doc
    * hash split does exactly that). Docs are assigned by GROUP — the
    * t13 component id for clustered docs, the doc's own id for
    * singletons — through the same deterministic md5-threshold idiom
    * as t16 (no `rand()`: reruns and retried tasks agree), 80/20.
    * Scale shape: one keyed equi-join against the (memoized) cluster
    * labels plus a map-only hash — nothing beyond what t13 already
    * paid; the straddle-free property is pinned in
    * DedupClustersSpec. */
  def leakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val labels = nearDupClusters(s, dir)
      .select(col("doc_id"), col("cluster_id"))
    docs(s, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(expr("CAST(conv(substr(md5(concat(CAST(group_id AS STRING), " +
          "':split:42')), 1, 8), 16, 10) AS BIGINT) % 10") < 8, lit("train"))
          .otherwise(lit("eval")))
      .select(col("doc_id"), col("group_id"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** 32-bit term-frequency SimHash fingerprints per doc, via the fused
    * native kernel — entirely MAP-ONLY: the per-token ±1 bit sums fold
    * inside one compiled loop per document, replacing the old explode
    * (one row per token occurrence) + groupBy(doc_id) with 32
    * conditional sums — fingerprinting a 100 TB corpus no longer
    * shuffles at all; the only exchange left in t8 is the block join.
    * Values are identical (the sums are order-independent integers,
    * asserted against the SQL formulation in TextHashesSpec). */
  private[queries] def simhashFingerprints(d: DataFrame): DataFrame = {
    graft.functions.TextHashes.register(d.sparkSession)
    d.select(col("doc_id"), expr("simhash_fp(split(text, ' '))").as("fp"))
  }

  /** t8: SimHash near-dup pairs with hamming ≤ 3 via the 4×8-bit
    * pigeonhole block join (complete: any pair within hamming 3 shares
    * at least one block — asserted against brute force in tests). */
  /** All hamming ≤ 3 pairs via the block join (unlimited). */
  private[queries] def simhashCandidates(d: DataFrame): DataFrame = {
    val cap = bucketCap(d.sparkSession)
    val fp = simhashFingerprints(d)
    val rawBlocks = fp.select(col("doc_id"), col("fp"),
      explode(expr("transform(sequence(0, 3), " +
        "k -> struct(k AS k, shiftright(fp, 8 * k) & 255 AS blk))")).as("b"))
      .select(col("doc_id"), col("fp"), col("b.k"), col("b.blk"))
    // [[LshBucketCap]] sub-bucketing — t8's (k, blk) buckets are the
    // more exposed side (only 4×256 distinct blocks exist, so bucket
    // size grows O(n) even on benign corpora); the caveat on the cap
    // val applies: a capped block loses its cross-sub pairs, and the
    // mass-identical route is exact dedup first (t10's composition).
    // The size aggregate and both join sides all consume one (k, blk)
    // exchange (map-side partial count; HashPartitioning(k, blk)
    // clusters (k, blk, sub) too — no added shuffle).
    val sizes = rawBlocks.groupBy(col("k"), col("blk"))
      .agg(count(lit(1)).as("cnt"))
    val blocks = rawBlocks.join(sizes, Seq("k", "blk"))
      .withColumn("sub", col("doc_id") % ceil(col("cnt") / lit(cap.toDouble)))
      .select(col("doc_id"), col("fp"), col("k"), col("blk"), col("sub"))
    blocks.as("a")
      .join(blocks.as("b"),
        col("a.k") === col("b.k") && col("a.blk") === col("b.blk") &&
          col("a.sub") === col("b.sub") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.fp ^ b.fp)").cast("long").as("hamming"))
      // hamming filter BEFORE the pair-dedup distinct: a pair sharing
      // several blocks reaches the distinct at most 4x either way, but
      // far pairs (the overwhelming majority of block collisions)
      // never enter its exchange at all
      .filter(col("hamming") <= 3)
      .distinct()
  }

  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    requireOracleCap(s)
    simhashCandidates(docs(s, dir))
      .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** t9 cell-count scaling: target within-cell size, so k = ⌈n/50⌉
    * (min 8) GROWS with the corpus — the property the fixed 10-value
    * label blocking lacked (pairs were O(n²/10)). */
  private[graft] val NearDupCellTarget = 50
  /** Centroid-count ceiling. The cap exists because BRUTE
    * nearest-centroid assignment is O(n·k·dims) — uncapped k ∝ n made
    * assignment quadratic (measured: 229 s for 100k vectors at k=2000
    * vs linear under a 512 cap). Since round 10 the HIERARCHICAL
    * route past [[NearDupBruteKMax]] removed that wall — O(n·√k)
    * distances, measured on 200k vectors with hash seeds: k=2048
    * routed 55.9 s BEATS k=512 brute 106.1 s — so the default cap
    * rose 512 → 4096: cells stay ≈ [[NearDupCellTarget]]-sized up to
    * ~200k vectors (finer cells = more recall headroom before the
    * sub-bucket split engages) at equal-or-better wall. Past the cap
    * the hard sub-bucket split still carries the block-count scaling,
    * so the pair bound never depends on k growing. Gate corpora
    * (≤ 5k vectors → k ≤ 100) sit far below both caps, which keeps
    * the brute-argmin oracle exact. */
  private[graft] val NearDupKCap = 4096L
  /** Hard cap on any one cell: cells the clustering leaves bigger than
    * this split into ⌈cnt/cap⌉ sub-buckets, bounding the worst-case
    * per-block pair count even under total centroid collapse — and,
    * past [[NearDupKCap]], supplying the O(n) growth in block count
    * that keeps total pair work linear. */
  private[graft] val NearDupCellCap = 100
  /** Lloyd rounds for the BLOCKING cells: one refinement is enough to
    * pull the seed cells toward the data (v7 keeps the full k-means
    * semantics); each extra round costs a serial broadcast cascade
    * per action. */
  private[graft] val NearDupIters = 1
  /** Probes per vector: single-cell assignment loses every near-dup
    * pair that straddles a Voronoi boundary — measured 36/100 of the
    * true top-100 cosine pairs blocked together at sf0.001. Assigning
    * each vector to its 2 nearest cells (standard IVF multi-probe, the
    * same dial v4 exposes) recovers boundary pairs at 2× the probe
    * rows — still linear. */
  private[graft] val NearDupProbes = 2
  /** Brute-assignment ceiling: at or below this k every centroid is
    * scanned per vector (the oracle-replicable argmin). Above it —
    * reachable only when `graft.neardup.kcap` raises the default
    * [[NearDupKCap]] — assignment routes HIERARCHICALLY: ⌈√k⌉ coarse
    * groups over the fine centroids (built driver-side from the
    * already-collected ≤k rows), each vector scans the coarse list
    * and then only the fine centroids of its [[NearDupCoarseProbes]]
    * nearest groups — O(√k) distances per vector instead of O(k), the
    * v4 IVF routing applied to the blocking quantizer itself. That is
    * what lets a cluster deployment raise the cap (finer cells, same
    * per-cell pair bound) without the O(n·k) brute assignment wall.
    * Overridable via `graft.neardup.bruteKMax` (tests force the
    * hierarchical path at toy scale with it). Lowered 512 → 256 with
    * the cap raise: the routed path beats brute from k ≈ 2048 down
    * (the hash-seed sweep in BASELINE.md), so routing engages as soon
    * as k outgrows the gate corpora (whose k ≤ 100 must stay on the
    * brute path — it is the oracle-replicable argmin). */
  private[graft] val NearDupBruteKMax = 256L
  /** Coarse groups scanned per vector on the hierarchical path — the
    * same boundary-recovery dial as [[NearDupProbes]], one level up. */
  private[graft] val NearDupCoarseProbes = 2

  /** t9: embedding cosine near-duplicates, blocked by SemDeDup-style
    * k-means cells (v7's Lloyd machinery) with k ∝ corpus size —
    * top-20 within-cell pairs by cosine.
    *
    * Scale shape: k = min(max(8, ⌈n/[[NearDupCellTarget]]⌉),
    * [[NearDupKCap]]) keeps the expected cell size CONSTANT while k
    * grows (so within-cell pair work is O(n·cell) = O(n), not the
    * O(n²/cells) a fixed cell count degrades to) and keeps the
    * map-only brute assignment LINEAR once k hits its cap; any cell
    * above [[NearDupCellCap]] — every cell, once k is capped — is
    * sub-bucketed by `vec_id % ⌈cnt/cap⌉`, a deterministic split both
    * engines compute identically, so the block count keeps growing
    * ∝ n at any scale. Assignment is map-only against the broadcast
    * centroids (the corpus never shuffles for it), on the
    * L2-normalized vectors with [[NearDupProbes]] probes per vector —
    * planted near-duplicates (cosine ≈ 1) co-assign to a shared cell
    * ≥ 95% of the time (pinned in ScaleOpsSpec; the fixture itself
    * has no true near-dups, max pairwise cosine 0.48).
    * Norms are precomputed per row *before* the pair join — each
    * vector participates in O(cell) pairs, so per-pair norm
    * recomputation is the dominant wasted work at scale. */

  /** Converged blocking centroids as a driver-LOCAL relation — the
    * t13 label-checkpoint idiom applied to the Lloyd cascade: the
    * k-derivation, seeding, and [[NearDupIters]] refinements execute
    * EAGERLY here (each refinement is a serial broadcast cascade —
    * left inside the lazy plan it re-ran on every action, the
    * registry's most expensive per-action cost at ~5 s of the round-8
    * warm 6-8 s), and the ≤ [[NearDupKCap]]-row result lands in a
    * local relation every later action broadcasts for free. The
    * collect is BOUNDED by the k cap (512 × dims doubles), the same
    * bounded-materialization budget as [[connectedComponentsOf]]'s
    * small-graph spill. Centroid VALUES are unchanged — the plan
    * below is exactly the one that previously ran lazily, so the
    * DuckDB oracle's unrolled CTE chain still reproduces them. */
  private[graft] def nearDupCentroids(en: DataFrame): DataFrame = {
    val s = en.sparkSession
    def local(df: DataFrame): DataFrame =
      s.createDataFrame(df.collectAsList(), df.schema)
    val n = en.count()
    val kCap = s.conf.get("graft.neardup.kcap", NearDupKCap.toString).toLong
    val k = math.min(kCap,
      math.max(8L, math.ceil(n / NearDupCellTarget.toDouble).toLong))
    val bruteMax =
      s.conf.get("graft.neardup.bruteKMax", NearDupBruteKMax.toString).toLong
    // Seeds are the k vectors FIRST IN md5-HASH ORDER of their id —
    // not the first k ids: real corpora cluster ids by time/source/
    // family (the fleet corpus packs each near-dup family into 100
    // consecutive ids), and first-k-id seeding then draws every seed
    // from one or two families, collapsing the cells into a handful
    // of giant blobs whose sub-bucket splits separate true neighbors
    // (measured: v15 graph recall@3 vs brute 0.07 on the id-packed
    // fleet slice with id seeds). The md5 threshold idiom is the same
    // engine-exact hash t16 gates, so the oracle selects the
    // identical seed set. Diverse seeds cost one thin top-k over
    // (hash, id) — the collect stays bounded by the k cap.
    val seeds = en
      .orderBy(expr(
        "CAST(conv(substr(md5(CAST(vec_id AS STRING)), 1, 8), 16, 10) " +
          "AS BIGINT)"), col("vec_id"))
      .limit(k.toInt)
      .select(col("vec_id").as("cluster"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cvec"))
    var cents = local(seeds)
    for (_ <- 0 until NearDupIters) {
      val assigned =
        if (k <= bruteMax)
          VectorOps.kmAssign(en.select(col("vec_id"), col("embedding")), cents)
        else // refinement must not pay O(n·k) either — route, then argmin
          hierAssign(en.select(col("vec_id"), col("embedding")),
            centroidRows(cents), probes = 1)
      cents = local(VectorOps.kmRecompute(assigned))
    }
    cents
  }

  private def centroidRows(cents: DataFrame): Array[(Long, Array[Double])] =
    cents.collect() // a local relation of ≤ k rows — no cluster job
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** Driver-side coarse quantizer OVER THE FINE CENTROIDS: ⌈√k⌉ coarse
    * groups, seeded on the first coarse-count centroids by cluster id,
    * two deterministic Lloyd rounds in plain Scala (≤ k·√k·dims flops
    * on ≤ [[NearDupKCap]]-scale k — microseconds, no Spark job), ties
    * toward the lower group id. Returns the non-empty groups and the
    * fine centroids each routes to. */
  private def coarseGroupsOf(cents: Array[(Long, Array[Double])])
      : (Seq[(Long, Array[Double])], Seq[(Long, Long, Array[Double])]) = {
    val sorted = cents.sortBy(_._1)
    val c = math.max(1, math.ceil(math.sqrt(sorted.length.toDouble)).toInt)
    var coarse = sorted.take(c).map(_._2)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0d; var i = 0
      while (i < a.length && i < b.length) { val x = a(i) - b(i); s += x * x; i += 1 }
      s
    }
    def nearest(v: Array[Double]): Int = {
      var best = 0; var bd = d2(v, coarse(0)); var g = 1
      while (g < coarse.length) {
        val dd = d2(v, coarse(g))
        if (dd < bd) { bd = dd; best = g }
        g += 1
      }
      best
    }
    var assign = sorted.map(x => nearest(x._2))
    for (_ <- 0 until 2) {
      coarse = Array.tabulate(c) { g =>
        val members = sorted.indices.filter(assign(_) == g)
        if (members.isEmpty) coarse(g)
        else {
          val dims = sorted(members.head)._2.length
          val m = new Array[Double](dims)
          members.foreach { i =>
            val v = sorted(i)._2
            var j = 0; while (j < dims) { m(j) += v(j); j += 1 }
          }
          var j = 0; while (j < dims) { m(j) /= members.length; j += 1 }
          m
        }
      }
      assign = sorted.map(x => nearest(x._2))
    }
    val fines = sorted.indices.map(i =>
      (assign(i).toLong, sorted(i)._1, sorted(i)._2))
    val used = assign.toSet
    (coarse.indices.filter(used).map(g => (g.toLong, coarse(g))), fines)
  }

  private def sqDist(arr: String): String =
    s"round(aggregate(zip_with(embedding, $arr, " +
      "(x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)), " +
      "0D, (a, v) -> a + v), 6)"

  /** Hierarchical `probes`-nearest-centroid assignment (the past-cap
    * path): one broadcast row carries the coarse struct array and a
    * coarse-id → fine-centroid-array map; each vector sorts the coarse
    * distances, takes [[NearDupCoarseProbes]] groups, and argmin-sorts
    * only their fine centroids — map-only off the broadcast, O(√k)
    * distances per row. Keeps every input column, adds `cluster` (one
    * row per probe). */
  private def hierAssign(df: DataFrame,
      cents: Array[(Long, Array[Double])], probes: Int): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val (coarse, fines) = coarseGroupsOf(cents)
    val packed = coarse.toDF("cluster", "cvec")
      .agg(collect_list(struct(col("cluster"), col("cvec"))).as("groups"))
      .crossJoin(fines.toDF("gid", "cluster", "cvec")
        .groupBy(col("gid"))
        .agg(collect_list(struct(col("cluster"), col("cvec"))).as("fines"))
        .agg(expr("map_from_entries(collect_list(struct(gid, fines)))")
          .as("fmap")))
    val probeExpr =
      s"slice(array_sort(transform(flatten(transform(" +
      s"slice(array_sort(transform(groups, s -> " +
      s"named_struct('d', ${sqDist("s.cvec")}, 'c', s.cluster))), " +
      s"1, $NearDupCoarseProbes), " +
      s"t -> element_at(fmap, t.c))), " +
      s"s -> named_struct('d', ${sqDist("s.cvec")}, 'c', s.cluster))), " +
      s"1, $probes)"
    df.crossJoin(broadcast(packed))
      .withColumn("m", explode(expr(probeExpr)))
      .withColumn("cluster", col("m.c"))
      .drop("groups", "fmap", "m")
  }

  /** Centroid memo: one converged-centroid row set per (session,
    * input key). Keyed weakly by the session (dropped with it) and by
    * the caller-supplied input key — the registry folds a
    * [[pathFingerprint]] of the embeddings parquet into it, so a
    * regenerated input misses the memo instead of serving stale
    * centroids. Values are plain (schema, rows) — ≤ 512 driver rows,
    * no Spark blocks (`clearCache()` between bench queries cannot
    * drop this, so every rep after the first pays assignment + pair
    * join only) and no reference back to the SparkSession (a
    * DataFrame value would pin the weak key forever). */
  private val centroidMemo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String,
        (org.apache.spark.sql.types.StructType,
          java.util.List[org.apache.spark.sql.Row])]]())

  /** Corpus-scaled k-means cell assignment over (vec_id, embedding):
    * k = min(max(8, ⌈n/[[NearDupCellTarget]]⌉), [[NearDupKCap]]),
    * [[NearDupIters]] Lloyd refinements (eager, memoized per
    * `memoKey` — see [[nearDupCentroids]]), then a
    * [[NearDupProbes]]-nearest-cell probe assignment against the
    * final centroids (map-only: sort the per-centroid distance
    * structs, slice, explode). */
  private[graft] def nearDupAssign(e: DataFrame, memoKey: String = null): DataFrame = {
    // cluster the L2-NORMALIZED vectors: for unit vectors L2 distance
    // is monotone in cosine (‖a−b‖² = 2−2cos), so the cells group by
    // the similarity the operator actually scores — clustering the
    // raw vectors mixes norm into the geometry and splits high-cosine
    // pairs of different length (SemDeDup normalizes for the same
    // reason). Pair COSINES are still computed on the originals.
    val en = e.select(col("vec_id"), col("embedding").as("orig"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE) / " +
        "sqrt(aggregate(embedding, 0D, " +
        "(a, y) -> a + CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))")
        .as("embedding"))
    val s = e.sparkSession
    val cents =
      if (memoKey == null) nearDupCentroids(en)
      else {
        val m = centroidMemo.computeIfAbsent(s, _ =>
          new java.util.concurrent.ConcurrentHashMap[String,
            (org.apache.spark.sql.types.StructType,
              java.util.List[org.apache.spark.sql.Row])]())
        // computed outside the bin lock, same rationale as the
        // ccLabelMemo: the Lloyd cascade is an eager multi-action
        // loop; racing duplicates are benign and putIfAbsent keeps
        // one winner
        val cur = m.get(memoKey)
        val v =
          if (cur != null) cur
          else {
            val c = nearDupCentroids(en)
            val computed = (c.schema, c.collectAsList())
            val prev = m.putIfAbsent(memoKey, computed)
            if (prev != null) prev else computed
          }
        s.createDataFrame(v._2, v._1)
      }
    val rows = centroidRows(cents)
    val bruteMax =
      s.conf.get("graft.neardup.bruteKMax", NearDupBruteKMax.toString).toLong
    if (rows.length <= bruteMax)
      en.crossJoin(broadcast(
          cents.agg(collect_list(struct(col("cluster"), col("cvec")))
            .as("cents"))))
        .select(col("vec_id"), col("orig"),
          explode(expr(s"slice(array_sort(${VectorOps.kmDistStructs}), " +
            s"1, $NearDupProbes)")).as("m"))
        .select(col("vec_id"), col("orig").as("embedding"),
          col("m.c").as("cluster"))
    else
      hierAssign(en, rows, NearDupProbes)
        .select(col("vec_id"), col("orig").as("embedding"), col("cluster"))
  }

  /** v20's assignment: cells learned on the BASE tranche (ids ≤
    * ⌊(min+max)/2⌋ — the t34/q33 base/delta idiom), the DELTA assigned
    * to those FIXED centroids with the identical probe rule — k-means
    * maintenance WITHOUT relearning: the nightly index absorbs today's
    * vectors with one map-only argmin pass (O(batch · k) against the
    * broadcast centroids), not a Lloyd cascade over the corpus. Both
    * calls share one memo key, so the second (delta) call provably
    * reuses the base-learned centroids — every cluster id in the
    * result is a BASE seed id (pinned in AnnIndexSpec). */
  private[graft] def nearDupSplitAssign(s: SparkSession, dir: String)
      : (DataFrame, Long) = {
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val Array(lo, hi) = e.agg(min(col("vec_id")), max(col("vec_id")))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val cut = (lo + hi) / 2
    val key = s"v20base:$dir@${pathFingerprint(s, s"$dir/embeddings.parquet")}"
    // learns the centroids (base rows only) and memoizes under `key`
    val assignBase = nearDupAssign(e.filter(col("vec_id") <= cut), key)
    // memo HIT: assigns the delta against the base-learned centroids
    val assignDelta = nearDupAssign(e.filter(col("vec_id") > cut), key)
    (assignBase.unionByName(assignDelta), cut)
  }

  /** Within-cell cosine pairs over a (cluster, vec_id, embedding)
    * assignment, sub-bucketing any cell above `cap` rows by
    * `vec_id % ⌈cnt/cap⌉` so no block ever exceeds ~cap rows
    * regardless of how skewed the clustering came out. Requires
    * `vec_dot` to be registered. */
  private[graft] def cellBlockedPairs(assigned: DataFrame, cap: Int): DataFrame = {
    // The explicit repartition is load-bearing (same reason as
    // minhashPairsOf): the Lloyd assignment chain is map-only off its
    // broadcasts, so without an exchange of its own the three
    // consumers below (cell sizes, both pair-join sides) would each
    // re-derive the entire multi-pass assignment — measured 7.8 s
    // warm at sf0.1 vs ~2.5 s with the single reused shuffle.
    val byCell = assigned.repartition(col("cluster"))
    val cellSizes = byCell.groupBy(col("cluster")).agg(count(lit(1)).as("cnt"))
    val cells = byCell
      .join(broadcast(cellSizes), Seq("cluster"))
      .withColumn("sub", col("vec_id") % ceil(col("cnt") / lit(cap.toDouble)))
      .select(col("cluster"), col("sub"), col("vec_id"), col("embedding"),
        expr("sqrt(vec_dot(embedding, embedding))").as("nrm"))
    val dot = "vec_dot(ea, eb)"
    cells.select(col("cluster"), col("sub"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
      .join(cells.select(col("cluster"), col("sub"), col("vec_id").as("vec_b"),
        col("embedding").as("eb"), col("nrm").as("nb")), Seq("cluster", "sub"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", round(expr(dot) / (col("na") * col("nb")), 6))
      .select(col("cluster").cast("long").as("cell"),
        col("vec_a"), col("vec_b"), col("cos"))
      // a boundary pair probed into both shared cells would appear
      // twice (same cos, different cell) — keep one row per pair, the
      // lowest cell, so the top-k ordering stays total in both engines
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(min(col("cell")).as("cell"), max(col("cos")).as("cos"))
      .select(col("cell"), col("vec_a"), col("vec_b"), col("cos"))
  }

  /** Where the persisted near-dup CELL index for `dir` lives — the
    * t9/v15 learned blocking cells under the v17 artifact idiom: the
    * input fingerprint rides in the directory name, so a regenerated
    * embeddings table re-builds instead of serving a stale index, and
    * a FRESH SESSION finds a current artifact by recomputing the same
    * name. */
  private[graft] def nearDupIndexPath(s: SparkSession, dir: String)
      : java.nio.file.Path =
    artifactDir("neardup_cells",
      s"neardup:$dir@${pathFingerprint(s, s"$dir/embeddings.parquet")}")

  /** BUILD the cell-index artifact — the expensive one-time pass: the
    * corpus-scaled Lloyd cascade (k ∝ n hash-seeded cells, the 162 s
    * cold wall at fleet scale) runs ONCE and the per-vector probe
    * assignment persists as one parquet relation `assign`
    * (cluster, vec_id, embedding — the inverted file: each vector
    * listed under its [[NearDupProbes]] probed cells). Serving the kNN
    * graph / t9 pair join then starts at [[cellBlockedPairs]] with no
    * Lloyd iteration and no in-session memo. Idempotent: a present
    * non-empty `_INDEX_READY` marker (carrying a per-build nonce, the
    * v17 contract) short-circuits, including across sessions. At
    * 100 TB the relation is additionally written partitioned by a
    * cluster prefix so a cell-local serve touches one partition; at
    * gate scale the cluster column + row-group stats carry the same
    * prune. */
  private[graft] def buildNearDupIndex(s: SparkSession, dir: String): String = {
    val out = nearDupIndexPath(s, dir)
    ensureArtifact(out) {
      graft.functions.VectorDotProduct.register(s)
      val e = graft.Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      nearDupAssign(e, memoKey =
        s"$dir@${pathFingerprint(s, s"$dir/embeddings.parquet")}")
        .select(col("cluster"), col("vec_id"), col("embedding"))
        .write.mode("overwrite").parquet(out.resolve("assign").toString)
    }
  }

  def embeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorDotProduct.register(s)
    val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    cellBlockedPairs(nearDupAssign(e, memoKey =
      s"$dir@${pathFingerprint(s, s"$dir/embeddings.parquet")}"),
      NearDupCellCap)
      .orderBy(col("cos").desc, col("vec_a"), col("vec_b"))
      .limit(20)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t7_minhash_lsh" -> (minhashLsh _),
    "t8_simhash_pairs" -> (simhashPairs _),
    "t9_embedding_neardup" -> (embeddingNearDup _),
    "t10_clean_corpus" -> (cleanCorpus _),
    "t13_dedup_clusters" -> (nearDupClusters _),
    "t33_cc_index_load" -> (ccClustersServe _),
    "t42_cc_incremental" -> (ccIncrementalServe _),
    "t43_cc_forget" -> (ccForgetServe _),
    "t44_cc_compact" -> (ccForgetCompactServe _),
    "t34_incremental_dedup" -> (incrementalDedup _),
    "t34_incremental_dedup_sql" -> (incrementalDedupSql _),
    "t35_index_append" -> (indexAppendServe _),
    "t36_index_compact" -> (indexCompactServe _),
    "t37_tombstone_reelect" -> (tombstoneReelect _),
    "t38_index_ageoff" -> (indexAgeOff _),
    "t39_takedown_external" -> (takedownExternal _),
    "t40_auto_compact" -> (autoCompactServe _),
    "t41_time_ageoff" -> (indexTimeAgeOff _),
    "t45_cc_time_ageoff" -> (ccTimeAgeOff _),
    "t46_cc_takedown_external" -> (ccTakedownExternal _),
    "t47_takedown_fanout" -> (takedownFanout _),
    "t23_sketch_audit" -> (sketchAudit _),
    "t29_leakage_safe_split" -> (leakageSafeSplit _))

  // ------------------------------------------------------------- oracles

  private val shinglesSql =
    """sh AS (
      | SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
      | FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) w,
      |   unnest(generate_series(1, len(words) - 2)) AS u(i))""".stripMargin

  /** Shared oracle CTE prefix — shingles → 12-min signatures → banded
    * LSH bucket keys (`bands(doc_id, band, sig)`), the same dataflow
    * [[bandedSignaturesOf]] computes; reused by the t7 oracle and the
    * s3 streaming-ingest-dedup gate. */
  private[queries] lazy val bandsCtes: String = {
    val mins = hashParams.zipWithIndex
      .map { case ((a, b), k) => s"min(($a * ${h32d("shingle")} + $b) % $HashPrime) AS mh$k" }
      .mkString(",\n   ")
    val bandSel = (0 until NumBands).map { b =>
      val key = (0 until BandSize).map(r => s"mh${b * BandSize + r}")
        .mkString("concat_ws(':', ", ", ", ")")
      s"SELECT doc_id, $b AS band, $key AS sig FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH $shinglesSql,
       |sig AS (
       | SELECT doc_id,
       |   $mins
       | FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandSel)""".stripMargin
  }

  /** t23 oracle: the same bands → candidates → signature-agreement
    * estimate as t7's, joined to the exact distinct-shingle Jaccard
    * (string shingles — a gate match proves the hashed Spark path
    * collision-free on this corpus) and the absolute error. */
  private lazy val sketchAuditOracle: String = {
    val agree = (0 until NumHashes)
      .map(k => s"(CASE WHEN sa.mh$k = sb.mh$k THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""$bandsCtes,
       |bsz AS (SELECT band, sig, count(*) AS cnt FROM bands GROUP BY 1, 2),
       |bsub AS (
       | SELECT bands.doc_id, bands.band, bands.sig,
       |  bands.doc_id % CAST(ceil(cnt / $LshBucketCap.0) AS BIGINT) AS sub
       | FROM bands JOIN bsz USING (band, sig)),
       |cand AS (
       | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM bsub a JOIN bsub b
       |   ON a.band = b.band AND a.sig = b.sig AND a.sub = b.sub
       |      AND a.doc_id < b.doc_id),
       |est AS (
       | SELECT doc_a, doc_b,
       |  round(CAST($agree AS DOUBLE) / $NumHashes, 6) AS est_jaccard
       | FROM cand JOIN sig sa ON cand.doc_a = sa.doc_id
       |  JOIN sig sb ON cand.doc_b = sb.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |inter AS (
       | SELECT doc_a, doc_b, count(*) AS n_inter
       | FROM cand
       |  JOIN sh x ON cand.doc_a = x.doc_id
       |  JOIN sh y ON cand.doc_b = y.doc_id AND x.shingle = y.shingle
       | GROUP BY 1, 2),
       |ex AS (
       | SELECT e.doc_a, e.doc_b, e.est_jaccard,
       |  round(CAST(COALESCE(n_inter, 0) AS DOUBLE) /
       |    CAST(za.n_sh + zb.n_sh - COALESCE(n_inter, 0) AS DOUBLE), 6)
       |    AS jaccard
       | FROM est e
       |  LEFT JOIN inter i ON e.doc_a = i.doc_a AND e.doc_b = i.doc_b
       |  JOIN sizes za ON e.doc_a = za.doc_id
       |  JOIN sizes zb ON e.doc_b = zb.doc_id)
       |SELECT doc_a, doc_b, est_jaccard, jaccard,
       | round(abs(est_jaccard - jaccard), 6) AS abs_err
       |FROM ex ORDER BY doc_a, doc_b""".stripMargin
  }

  private val minhashOracle: String = {
    val agree = (0 until NumHashes)
      .map(k => s"(CASE WHEN sa.mh$k = sb.mh$k THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""$bandsCtes,
       |bsz AS (SELECT band, sig, count(*) AS cnt FROM bands GROUP BY 1, 2),
       |bsub AS (
       | SELECT bands.doc_id, bands.band, bands.sig,
       |  bands.doc_id % CAST(ceil(cnt / $LshBucketCap.0) AS BIGINT) AS sub
       | FROM bands JOIN bsz USING (band, sig)),
       |cand AS (
       | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM bsub a JOIN bsub b
       |   ON a.band = b.band AND a.sig = b.sig AND a.sub = b.sub
       |      AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       | round(CAST($agree AS DOUBLE) / $NumHashes, 6) AS est_jaccard
       |FROM cand JOIN sig sa ON cand.doc_a = sa.doc_id
       | JOIN sig sb ON cand.doc_b = sb.doc_id
       |ORDER BY est_jaccard DESC, doc_a, doc_b LIMIT 20""".stripMargin
  }

  private val simhashOracle: String = {
    val bitSums = (0 until 32)
      .map(b => s"sum(CASE WHEN (${h32d("tok")} >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n   ")
    val fpExpr = (0 until 32)
      .map(b => s"(CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    s"""WITH toks AS (
       | SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |sums AS (
       | SELECT doc_id,
       |   $bitSums
       | FROM toks GROUP BY doc_id),
       |fp AS (SELECT doc_id, $fpExpr AS fp FROM sums),
       |blocks AS (
       | SELECT doc_id, fp, k, (fp >> (8 * k)) & 255 AS blk
       | FROM fp, unnest(generate_series(0, 3)) AS u(k)),
       |ksz AS (SELECT k, blk, count(*) AS cnt FROM blocks GROUP BY 1, 2),
       |ksub AS (
       | SELECT blocks.doc_id, blocks.fp, blocks.k, blocks.blk,
       |  blocks.doc_id % CAST(ceil(cnt / $LshBucketCap.0) AS BIGINT) AS sub
       | FROM blocks JOIN ksz USING (k, blk)),
       |cand AS (
       | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |   CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
       | FROM ksub a JOIN ksub b
       |   ON a.k = b.k AND a.blk = b.blk AND a.sub = b.sub
       |      AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3
       |ORDER BY hamming, doc_a, doc_b LIMIT 20""".stripMargin
  }

  /** Shared oracle CTE prefix for the corpus-scaled cell-blocked pair
    * family: v7's unrolled Lloyd rounds seeded on a corpus-scaled k
    * over the L2-normalized vectors, the [[NearDupProbes]]-probe
    * assignment, capped sub-buckets, and the deduped within-cell
    * cosine pairs — ends at `p(vec_a, vec_b, cell, cos)`. The t9
    * oracle takes the global top-20 off it; the v15 kNN-graph oracle
    * directs the same pairs and windows per source. */
  private[queries] lazy val nearDupPairsCtes: String =
    nearDupPairsCtesWhere("TRUE")

  /** The t9/v15 oracle chain with a membership predicate injected
    * AFTER the learned assignment and BEFORE the bucket-size/sub-split
    * computation — v21's oracle shape: the learned state (k, seeds,
    * centroids) comes from the FULL corpus (frozen, exactly what the
    * persisted index holds), while bucket sizes, sub-splits, pairs and
    * ranks all see only the SURVIVING members — precisely what the
    * engine's anti-join before [[cellBlockedPairs]] produces. */
  private[queries] def nearDupPairsCtesWhere(memberWhere: String): String = {
    val kp =
      s"""kp AS (
         | SELECT least($NearDupKCap, greatest(8,
         |   CAST(ceil(count(*) / $NearDupCellTarget.0) AS BIGINT))) AS k
         | FROM embeddings),
         |""".stripMargin
    val raw = s"a${NearDupIters}raw"
    // the clustering CTE chain runs on the L2-normalized vectors (see
    // nearDupAssign); pair cosines below join the ORIGINAL embeddings
    val normE =
      """SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |  sqrt(list_sum(list_transform(embedding,
        |    y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS embedding
        |FROM embeddings""".stripMargin
    s"""${VectorOps.kmeansCteChain(kp,
        "vec_id IN (SELECT vec_id FROM e ORDER BY " +
          "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT, " +
          "vec_id LIMIT (SELECT k FROM kp))",
        NearDupIters, normE)},
       |probed AS (
       | SELECT vec_id, cluster FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY d, cluster) AS rn
       |  FROM $raw) WHERE rn <= $NearDupProbes AND ($memberWhere)),
       |cs AS (SELECT cluster, count(*) AS cnt FROM probed GROUP BY 1),
       |cells AS (
       | SELECT a.vec_id, o.embedding, a.cluster,
       |  a.vec_id % CAST(ceil(cs.cnt / $NearDupCellCap.0) AS BIGINT) AS sub
       | FROM probed a JOIN cs USING (cluster)
       |  JOIN embeddings o USING (vec_id)),
       |praw AS (
       | SELECT CAST(a.cluster AS BIGINT) AS cell,
       |  a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  round(
       |   list_sum(list_transform(range(1, len(a.embedding) + 1),
       |     i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
       |   (sqrt(list_sum(list_transform(a.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
       |    sqrt(list_sum(list_transform(b.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
       | FROM cells a JOIN cells b
       |   ON a.cluster = b.cluster AND a.sub = b.sub AND a.vec_id < b.vec_id),
       |p AS (
       | SELECT vec_a, vec_b, min(cell) AS cell, max(cos) AS cos
       | FROM praw GROUP BY 1, 2)""".stripMargin
  }

  /** v20's oracle prefix: the SAME dataflow as [[nearDupPairsCtes]]
    * except the Lloyd chain (k-derivation, md5-hash seeds, refinement)
    * runs over the BASE tranche only (ids ≤ ⌊(min+max)/2⌋), and a
    * SEPARATE final assignment probes ALL vectors — base and delta —
    * against those fixed base-learned centroids (the append-without-
    * relearn semantics the engine's shared memo key enforces). Ends at
    * the same `p(vec_a, vec_b, cell, cos)`. */
  private[queries] lazy val nearDupDeltaPairsCtes: String = {
    val kp =
      s"""cutb AS (
         | SELECT (min(vec_id) + max(vec_id)) // 2 AS cut FROM embeddings),
         |kp AS (
         | SELECT least($NearDupKCap, greatest(8,
         |   CAST(ceil(count(*) / $NearDupCellTarget.0) AS BIGINT))) AS k
         | FROM embeddings CROSS JOIN cutb WHERE vec_id <= cut),
         |""".stripMargin
    val normBase =
      """SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |  sqrt(list_sum(list_transform(embedding,
        |    y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS embedding
        |FROM embeddings CROSS JOIN cutb WHERE vec_id <= cut""".stripMargin
    s"""${VectorOps.kmeansCteChain(kp,
        "vec_id IN (SELECT vec_id FROM e ORDER BY " +
          "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT, " +
          "vec_id LIMIT (SELECT k FROM kp))",
        NearDupIters, normBase)},
       |alln AS (
       | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |   sqrt(list_sum(list_transform(embedding,
       |     y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS embedding
       | FROM embeddings),
       |aallraw AS (
       | SELECT e.vec_id, e.embedding, c.cluster,
       |  round(list_sum(list_transform(range(1, len(e.embedding) + 1),
       |   i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) *
       |        (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), 6) AS d
       | FROM alln e, c$NearDupIters c),
       |probed AS (
       | SELECT vec_id, cluster FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY d, cluster) AS rn
       |  FROM aallraw) WHERE rn <= $NearDupProbes),
       |cs AS (SELECT cluster, count(*) AS cnt FROM probed GROUP BY 1),
       |cells AS (
       | SELECT a.vec_id, o.embedding, a.cluster,
       |  a.vec_id % CAST(ceil(cs.cnt / $NearDupCellCap.0) AS BIGINT) AS sub
       | FROM probed a JOIN cs USING (cluster)
       |  JOIN embeddings o USING (vec_id)),
       |praw AS (
       | SELECT CAST(a.cluster AS BIGINT) AS cell,
       |  a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  round(
       |   list_sum(list_transform(range(1, len(a.embedding) + 1),
       |     i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
       |   (sqrt(list_sum(list_transform(a.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
       |    sqrt(list_sum(list_transform(b.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
       | FROM cells a JOIN cells b
       |   ON a.cluster = b.cluster AND a.sub = b.sub AND a.vec_id < b.vec_id),
       |p AS (
       | SELECT vec_a, vec_b, min(cell) AS cell, max(cos) AS cos
       | FROM praw GROUP BY 1, 2)""".stripMargin
  }

  /** t9 oracle: the shared pair chain, global top-20 by cosine. */
  private lazy val nearDupOracle: String =
    s"""$nearDupPairsCtes
       |SELECT cell, vec_a, vec_b, cos FROM p
       |ORDER BY cos DESC, vec_a, vec_b LIMIT 20""".stripMargin

  private val cleanCorpusOracle: String = {
    val mins = hashParams.zipWithIndex
      .map { case ((a, b), k) => s"min(($a * ${h32d("shingle")} + $b) % $HashPrime) AS mh$k" }
      .mkString(",\n   ")
    val bandSel = (0 until NumBands).map { b =>
      val key = (0 until BandSize).map(r => s"mh${b * BandSize + r}")
        .mkString("concat_ws(':', ", ", ", ")")
      s"SELECT doc_id, $b AS band, $key AS sig FROM sig"
    }.mkString("\n  UNION ALL ")
    val agree = (0 until NumHashes)
      .map(k => s"(CASE WHEN sa.mh$k = sb.mh$k THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH quality AS (
       | SELECT doc_id, text FROM (
       |  SELECT doc_id, text,
       |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |   round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
       |     CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS uniq_ratio
       |  FROM documents)
       | WHERE n_tokens BETWEEN 15 AND 90 AND uniq_ratio >= 0.15),
       |deduped AS (
       | SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)),
       |dd AS (
       | SELECT d.doc_id, d.text FROM documents d JOIN deduped USING (doc_id)),
       |sh AS (
       | SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
       | FROM (SELECT doc_id, string_split(text, ' ') AS words FROM dd) w,
       |   unnest(generate_series(1, len(words) - 2)) AS u(i)),
       |sig AS (
       | SELECT doc_id,
       |   $mins
       | FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandSel),
       |bsz AS (SELECT band, sig, count(*) AS cnt FROM bands GROUP BY 1, 2),
       |bsub AS (
       | SELECT bands.doc_id, bands.band, bands.sig,
       |  bands.doc_id % CAST(ceil(cnt / $LshBucketCap.0) AS BIGINT) AS sub
       | FROM bands JOIN bsz USING (band, sig)),
       |cand AS (
       | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM bsub a JOIN bsub b
       |   ON a.band = b.band AND a.sig = b.sig AND a.sub = b.sub
       |      AND a.doc_id < b.doc_id),
       |est AS (
       | SELECT doc_a, doc_b,
       |  round(CAST($agree AS DOUBLE) / $NumHashes, 6) AS est_jaccard
       | FROM cand JOIN sig sa ON cand.doc_a = sa.doc_id
       |  JOIN sig sb ON cand.doc_b = sb.doc_id),
       |losers AS (
       | SELECT DISTINCT doc_b AS doc_id FROM est WHERE est_jaccard >= 0.5)
       |SELECT doc_id FROM deduped
       |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
       |ORDER BY doc_id""".stripMargin
  }

  /** Shared oracle prefix for the t13 family: the t7 pair derivation
    * verbatim, then a recursive CTE computing each node's reachable
    * set — `min(v)` over it is the component id, ending at
    * `cc(doc_id, cluster_id)`. Transitive closure is O(component²)
    * rows, fine at oracle scale; the Spark side's label propagation
    * is the linear-space formulation of the same fixpoint. */
  private lazy val clusterCcCtes: String = {
    val mins = hashParams.zipWithIndex
      .map { case ((a, b), k) => s"min(($a * ${h32d("shingle")} + $b) % $HashPrime) AS mh$k" }
      .mkString(",\n   ")
    val bandSel = (0 until NumBands).map { b =>
      val key = (0 until BandSize).map(r => s"mh${b * BandSize + r}")
        .mkString("concat_ws(':', ", ", ", ")")
      s"SELECT doc_id, $b AS band, $key AS sig FROM sig"
    }.mkString("\n  UNION ALL ")
    val agree = (0 until NumHashes)
      .map(k => s"(CASE WHEN sa.mh$k = sb.mh$k THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH RECURSIVE $shinglesSql,
       |sig AS (
       | SELECT doc_id,
       |   $mins
       | FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandSel),
       |bsz AS (SELECT band, sig, count(*) AS cnt FROM bands GROUP BY 1, 2),
       |bsub AS (
       | SELECT bands.doc_id, bands.band, bands.sig,
       |  bands.doc_id % CAST(ceil(cnt / $LshBucketCap.0) AS BIGINT) AS sub
       | FROM bands JOIN bsz USING (band, sig)),
       |cand AS (
       | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM bsub a JOIN bsub b
       |   ON a.band = b.band AND a.sig = b.sig AND a.sub = b.sub
       |      AND a.doc_id < b.doc_id),
       |est AS (
       | SELECT doc_a, doc_b,
       |  round(CAST($agree AS DOUBLE) / $NumHashes, 6) AS est_jaccard
       | FROM cand JOIN sig sa ON cand.doc_a = sa.doc_id
       |  JOIN sig sb ON cand.doc_b = sb.doc_id),
       |edges AS (
       | SELECT doc_a AS u, doc_b AS v FROM est WHERE est_jaccard >= 0.5),
       |sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
       |reach(u, v) AS (
       | SELECT u, u FROM sym
       | UNION
       | SELECT r.u, s.v FROM reach r JOIN sym s ON s.u = r.v),
       |cc AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u)""".stripMargin
  }

  /** t42's oracle CTEs: connected components over the UNCAPPED bucket
    * star edges (member ↔ bucket min — connectivity-equivalent to the
    * per-bucket clique at linear edge count), the same recursive-
    * closure idiom as [[clusterCcCtes]]. No sub-split and no
    * est_jaccard filter: bucket connectivity is the decomposable
    * graph the incremental engine path maintains exactly. */
  // MATERIALIZED is load-bearing for the multi-closure oracles
  // (t43/t44 reference `bands`/`bcc` twice, s18 runs THREE closures):
  // DuckDB would otherwise inline — and recompute — the md5-shingle
  // signature pipeline per reference (measured: 61 s -> 0.2 s at
  // sf0.01)
  private[graft] lazy val bandsCtesMaterialized: String =
    bandsCtes.stripPrefix("WITH ")
      .replace("sh AS (", "sh AS MATERIALIZED (")
      .replace("sig AS (", "sig AS MATERIALIZED (")
      .replace("bands AS (", "bands AS MATERIALIZED (")

  /** One bucket-connectivity closure block, suffix-named so several
    * can coexist in one statement (s18's per-tranche states). `pred`
    * restricts the doc population; `{ID}` is replaced with the
    * site-appropriate column reference. */
  private[graft] def bucketCcClosureCtes(sfx: String,
      pred: String): String = {
    def p(ref: String) = pred.replace("{ID}", ref)
    s"""bmin$sfx AS (
       | SELECT band, sig, min(doc_id) AS m, count(*) AS cnt
       | FROM bands WHERE ${p("doc_id")} GROUP BY 1, 2),
       |bedges$sfx AS (
       | SELECT DISTINCT b.doc_id AS u, k.m AS v
       | FROM bands b JOIN bmin$sfx k ON b.band = k.band AND b.sig = k.sig
       | WHERE ${p("b.doc_id")} AND k.cnt >= 2 AND b.doc_id <> k.m),
       |bsym$sfx AS (
       | SELECT u, v FROM bedges$sfx UNION SELECT v, u FROM bedges$sfx),
       |breach$sfx(u, v) AS (
       | SELECT u, u FROM bsym$sfx
       | UNION
       | SELECT r.u, s.v FROM breach$sfx r JOIN bsym$sfx s ON s.u = r.v),
       |bcc$sfx AS MATERIALIZED (
       | SELECT u AS doc_id, min(v) AS cluster_id
       | FROM breach$sfx GROUP BY u)""".stripMargin
  }

  private lazy val bucketCcCtes: String =
    s"""WITH RECURSIVE $bandsCtesMaterialized,
       |${bucketCcClosureCtes("", "TRUE")}""".stripMargin

  private lazy val bucketClusterOracle: String =
    s"""$bucketCcCtes,
       |bsizes AS (
       | SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       | FROM bcc GROUP BY cluster_id)
       |SELECT bcc.cluster_id, bcc.doc_id, bsizes.cluster_size,
       | bcc.doc_id = bcc.cluster_id AS keep
       |FROM bcc JOIN bsizes USING (cluster_id)
       |ORDER BY cluster_id, doc_id""".stripMargin

  /** The survivor-restricted bucket-CC cluster table — t45 (event-time
    * survivors) and t46 (erasure-list survivors) rebuild the closure
    * over docs matching `pred` ({ID} = the doc id reference). */
  private def bucketSurvivorClusterOracle(pred: String): String =
    s"""WITH RECURSIVE $bandsCtesMaterialized,
       |${bucketCcClosureCtes("", pred)},
       |bsizes AS (
       | SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       | FROM bcc GROUP BY cluster_id)
       |SELECT bcc.cluster_id, bcc.doc_id, bsizes.cluster_size,
       | bcc.doc_id = bcc.cluster_id AS keep
       |FROM bcc JOIN bsizes USING (cluster_id)
       |ORDER BY cluster_id, doc_id""".stripMargin

  /** t43/t44's oracle: the bucket-CC rebuilt over corpus minus the
    * FULL index's cluster ids (the canons the engine forgets) — the
    * second recursive closure over the surviving docs' bands. */
  private lazy val bucketForgetOracle: String =
    s"""$bucketCcCtes,
       |surv AS (
       | SELECT d.doc_id FROM documents d
       | WHERE d.doc_id NOT IN (SELECT DISTINCT cluster_id FROM bcc)),
       |bands2 AS (SELECT b.* FROM bands b JOIN surv USING (doc_id)),
       |bmin2 AS (
       | SELECT band, sig, min(doc_id) AS m, count(*) AS cnt
       | FROM bands2 GROUP BY 1, 2),
       |bedges2 AS (
       | SELECT DISTINCT b.doc_id AS u, k.m AS v
       | FROM bands2 b JOIN bmin2 k ON b.band = k.band AND b.sig = k.sig
       | WHERE k.cnt >= 2 AND b.doc_id <> k.m),
       |bsym2 AS (SELECT u, v FROM bedges2 UNION SELECT v, u FROM bedges2),
       |breach2(u, v) AS (
       | SELECT u, u FROM bsym2
       | UNION
       | SELECT r.u, s.v FROM breach2 r JOIN bsym2 s ON s.u = r.v),
       |bcc2 AS (SELECT u AS doc_id, min(v) AS cluster_id
       |         FROM breach2 GROUP BY u),
       |bsizes2 AS (
       | SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       | FROM bcc2 GROUP BY cluster_id)
       |SELECT bcc2.cluster_id, bcc2.doc_id, bsizes2.cluster_size,
       | bcc2.doc_id = bcc2.cluster_id AS keep
       |FROM bcc2 JOIN bsizes2 USING (cluster_id)
       |ORDER BY cluster_id, doc_id""".stripMargin

  private lazy val clusterOracle: String =
    s"""$clusterCcCtes,
       |sizes AS (
       | SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       | FROM cc GROUP BY cluster_id)
       |SELECT cc.cluster_id, cc.doc_id, sizes.cluster_size,
       | cc.doc_id = cc.cluster_id AS keep
       |FROM cc JOIN sizes USING (cluster_id)
       |ORDER BY cluster_id, doc_id""".stripMargin

  /** t29 oracle: the shared component chain, singletons defaulted to
    * their own id, the t16-style md5 hex threshold as the 80/20. */
  private lazy val leakageSplitOracle: String =
    s"""$clusterCcCtes,
       |g AS (
       | SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS group_id
       | FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id)
       |SELECT doc_id, group_id,
       | CASE WHEN ('0x' || substr(md5(CAST(group_id AS VARCHAR)
       |    || ':split:42'), 1, 8))::BIGINT % 10 < 8
       |  THEN 'train' ELSE 'eval' END AS split
       |FROM g ORDER BY doc_id""".stripMargin

  private lazy val t34Oracle: String =
    s"""$bandsCtes,
       |bounds AS (
       | SELECT (min(doc_id) + max(doc_id)) // 2 AS cut FROM documents),
       |bkt AS (
       | SELECT band, sig, min(doc_id) AS canon
       | FROM bands CROSS JOIN bounds WHERE doc_id <= cut
       | GROUP BY band, sig),
       |f AS (
       | SELECT b.doc_id, b.band, k.canon
       | FROM bands b CROSS JOIN bounds
       | JOIN bkt k ON b.band = k.band AND b.sig = k.sig
       | WHERE b.doc_id > cut)
       |SELECT doc_id, min(band) AS band, min(canon) AS dup_of
       |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  val oracle: Map[String, String] = Map(
    "t7_minhash_lsh" -> minhashOracle,
    "t23_sketch_audit" -> sketchAuditOracle,
    "t8_simhash_pairs" -> simhashOracle,
    "t9_embedding_neardup" -> nearDupOracle,
    "t10_clean_corpus" -> cleanCorpusOracle,
    "t13_dedup_clusters" -> clusterOracle,
    // the label-index serve path must land on the identical cluster
    // table — one oracle serves the in-query and artifact paths
    "t33_cc_index_load" -> clusterOracle,
    // t42: append-then-serve must equal the full-corpus rebuild of the
    // bucket-connectivity clusters — the incremental path is exact
    "t42_cc_incremental" -> bucketClusterOracle,
    // t43: forgetting every canon must split/shrink/vanish components
    // exactly as if those docs had never been ingested
    "t43_cc_forget" -> bucketForgetOracle,
    // t44: compaction after the forget is invisible — t43's oracle
    "t44_cc_compact" -> bucketForgetOracle,
    // t45: cluster retention — survivors are docs whose DERIVED ingest
    // time (the shared md5 idiom) exceeds the second constant horizon;
    // splits, re-elections, and vanished components exactly as if the
    // expired docs had never been ingested
    "t45_cc_time_ageoff" -> bucketSurvivorClusterOracle(
      "('0x' || substr(md5(CAST({ID} AS VARCHAR)), 1, 8))::BIGINT " +
        "> 1717986918"),
    // t46: external erasure list — survivors are docs not divisible by
    // 7 (the staged t39 list; its absent id and duplicate are
    // invisible to the oracle by construction)
    "t46_cc_takedown_external" -> bucketSurvivorClusterOracle(
      "{ID} % 7 <> 0"),
    // t47: the cross-shelf fan-out audit — one row per shelf, each a
    // survivor summary of the SAME staged list's effect: band/media =
    // the membership relations minus listed docs, cluster = the
    // recursive closure over surviving docs (t46's CTEs), sum = q33's
    // statistics over events whose user_id is not a listed id (the
    // list reproduced exactly: in-doc-range multiples of 7 plus the
    // absent hi+1000, which must no-op on every shelf INCLUDING the
    // events dimension — hence the explicit elist, not a bare mod)
    "t47_takedown_fanout" ->
      s"""WITH RECURSIVE $bandsCtesMaterialized,
         |${MultimodalOps.ahashCtes},
         |${bucketCcClosureCtes("", "{ID} % 7 <> 0")},
         |esumb AS (
         | SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
         |elist AS (
         | SELECT CAST(g.x AS BIGINT) AS user_id
         | FROM esumb b,
         |   unnest(generate_series(((b.lo + 6) // 7) * 7, b.hi, 7)) AS g(x)
         | UNION ALL SELECT b.hi + 1000 FROM esumb b),
         |sumsurv AS (
         | SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS pn
         | FROM events e
         | WHERE e.user_id NOT IN (SELECT user_id FROM elist)
         | GROUP BY 1)
         |SELECT * FROM (
         | SELECT 'band' AS shelf,
         |  (SELECT CAST(count(*) AS BIGINT) FROM
         |    (SELECT DISTINCT band, sig FROM bands
         |     WHERE doc_id % 7 <> 0)) AS n_groups,
         |  (SELECT CAST(count(*) AS BIGINT) FROM bands
         |   WHERE doc_id % 7 <> 0) AS n_rows,
         |  (SELECT CAST(sum(doc_id) AS BIGINT) FROM
         |    (SELECT DISTINCT doc_id FROM bands
         |     WHERE doc_id % 7 <> 0)) AS checksum
         | UNION ALL
         | SELECT 'cluster',
         |  (SELECT CAST(count(DISTINCT cluster_id) AS BIGINT) FROM bcc),
         |  (SELECT CAST(count(*) AS BIGINT) FROM bcc),
         |  (SELECT CAST(sum(doc_id) AS BIGINT) FROM bcc)
         | UNION ALL
         | SELECT 'media',
         |  (SELECT CAST(count(DISTINCT ahash) AS BIGINT) FROM a
         |   WHERE doc_id % 7 <> 0),
         |  (SELECT CAST(count(*) AS BIGINT) FROM a WHERE doc_id % 7 <> 0),
         |  (SELECT CAST(sum(doc_id) AS BIGINT) FROM a
         |   WHERE doc_id % 7 <> 0)
         | UNION ALL
         | SELECT 'sum',
         |  (SELECT CAST(count(*) AS BIGINT) FROM sumsurv),
         |  (SELECT CAST(sum(n_events) AS BIGINT) FROM sumsurv),
         |  (SELECT CAST(sum(pn) AS BIGINT) FROM sumsurv))
         |ORDER BY shelf""".stripMargin,
    // delta docs flagged against the BASE tranche's buckets only; no
    // bucket cap CTEs — the probe join generates no pairs
    "t34_incremental_dedup" -> t34Oracle,
    // the SQL-text path must land on the identical probe — one oracle
    // serves the DataFrame and text surfaces (§2.12's rule)
    "t34_incremental_dedup_sql" -> t34Oracle,
    // the full-corpus bucket relation — the from-scratch REBUILD the
    // engine's append path must be indistinguishable from (canon = min
    // is merge-associative, so base-build + delta-append ≡ this)
    "t35_index_append" ->
      s"""$bandsCtes
         |SELECT band, sig, min(doc_id) AS canon
         |FROM bands GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // compaction must be INVISIBLE in the result — t35's oracle
    // verbatim; what t36 changes (the generation count the serve
    // reads) is pinned in IndexAppendSpec and measured in ScaleDemo
    "t36_index_compact" ->
      s"""$bandsCtes
         |SELECT band, sig, min(doc_id) AS canon
         |FROM bands GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // deletion must be exactly as if the taken-down docs had never
    // been ingested: the oracle REBUILDS over corpus-minus-deleted
    // (deleted = every multi-member bucket's canon, the deterministic
    // worst-case takedown). Buckets with no surviving member vanish
    "t37_tombstone_reelect" ->
      s"""$bandsCtes,
         |del AS (
         | SELECT DISTINCT canon AS doc_id FROM (
         |   SELECT band, sig, min(doc_id) AS canon, count(*) AS n
         |   FROM bands GROUP BY 1, 2)
         | WHERE n >= 2)
         |SELECT band, sig, min(doc_id) AS canon
         |FROM bands WHERE doc_id NOT IN (SELECT doc_id FROM del)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // age-off must be exactly as if the expired tranche had never been
    // ingested: rebuild over docs above the SECOND horizon (the two
    // horizons compose — h2 > h1, so survivors = ids > h2), horizons
    // derived with the same integer arithmetic the build persists
    "t38_index_ageoff" ->
      s"""$bandsCtes,
         |bounds AS (
         | SELECT min(doc_id) + (max(doc_id) - min(doc_id)) * 2 // 5 AS h2
         | FROM documents)
         |SELECT band, sig, min(doc_id) AS canon
         |FROM bands CROSS JOIN bounds WHERE doc_id > h2
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the external list holds every corpus-range multiple of 7 plus
    // an absent id and a duplicate — the oracle sees only the effect
    // on PRESENT docs (absent ids no-op; duplicates are idempotent)
    "t39_takedown_external" ->
      s"""$bandsCtes
         |SELECT band, sig, min(doc_id) AS canon
         |FROM bands WHERE doc_id % 7 <> 0
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the auto-compact policy must be INVISIBLE in the result — t35's
    // full-corpus oracle verbatim; the trigger mechanics are pinned in
    // IndexAppendSpec
    "t40_auto_compact" ->
      s"""$bandsCtes
         |SELECT band, sig, min(doc_id) AS canon
         |FROM bands GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // event-time retention: rebuild over docs whose DERIVED ingest
    // time (the md5 idiom, bit-identical across engines) exceeds the
    // second constant horizon — a non-contiguous id set, the thing an
    // id-span predicate cannot express
    "t41_time_ageoff" ->
      s"""$bandsCtes
         |SELECT band, sig, min(doc_id) AS canon
         |FROM bands
         |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |    ::BIGINT > 1717986918
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t29_leakage_safe_split" -> leakageSplitOracle)
}
