package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Similarity-search operators over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  * `v1_cosine_topk` is the brute-force baseline: broadcast the (small)
  * query set against the corpus — at 100 TB the corpus side stays
  * partitioned and the query side broadcasts, so there is no shuffle
  * at all. The dot products run inside whole-stage codegen via
  * higher-order functions (no UDFs). The LSH-bucketed variant (scale
  * path) lives in rows-only queries added alongside.
  */
object VectorOps {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")

  /** Per-pair dot via the native codegen'd expression
    * ([[graft.functions.VectorDotProduct]]) — same left-to-right
    * summation as the `aggregate`/`zip_with` formulation it replaced,
    * so oracles stay bit-identical. */
  private val dotExpr = "vec_dot(qv, cv)"

  private val normExpr = "sqrt(vec_dot(embedding, embedding))"

  /** cos from a precomputed-norm pair: norms are per-row (computed once
    * before the join), only the dot product is per-pair. */
  private def cosCol = expr(dotExpr) / (col("qn") * col("cn"))

  /** Brute-force cosine top-5 neighbors for the first 10 vectors.
    * "Brute" refers to scoring every pair — the scan is still
    * map-only (queries broadcast, corpus never moves) and the cut is
    * the shared [[twoLevelTopK]] over thin (q_id, c_id, score)
    * triples, so even the baseline shuffles bytes ∝ corpus rows, not
    * corpus vectors, and parallelizes its selection. */
  def cosineTopK(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorDotProduct.register(s)
    val e = emb(s, dir).withColumn("nrm", expr(normExpr))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("cv"),
      col("nrm").as("cn"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos_raw", cosCol)
      .select(col("q_id"), col("c_id"), col("cos_raw"))
    twoLevelTopK(scored, "cos_raw", 5, asc = false)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"), col("c_id"),
        round(col("cos_raw"), 6).as("cos"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** v16: cosine RANGE search — every corpus vector within a
    * similarity threshold of each query, the radius/threshold API
    * beside v1's top-k (dedup-threshold sweeps and "everything ≥ τ
    * similar" filters consume this shape; there is no k). Map-only
    * scoring off the broadcast query set; the τ filter prunes before
    * anything shuffles, so the post-scan volume is ∝ matches, not
    * corpus — at 100 TB the scan cost equals v1's and the output is
    * typically tiny. Ordering is on the ROUNDED cosine + ids, a
    * total order both engines share. */
  private[queries] val RangeTau = 0.3
  def rangeSearch(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorDotProduct.register(s)
    val e = emb(s, dir).withColumn("nrm", expr(normExpr))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("cv"),
      col("nrm").as("cn"))
    broadcast(q).crossJoin(c)
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", round(cosCol, 6))
      .filter(col("cos") >= RangeTau)
      .select(col("q_id"), col("c_id"), col("cos"))
      .orderBy(col("q_id"), col("cos").desc, col("c_id"))
  }

  private lazy val rangeSearchOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS qv FROM e
       |  WHERE vec_id < 10),
       |sc AS (
       | SELECT q_id, e.vec_id AS c_id,
       |  round(
       |   list_sum(list_transform(range(1, len(qv) + 1),
       |     i -> CAST(qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
       |   (sqrt(list_sum(list_transform(qv,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
       |    sqrt(list_sum(list_transform(e.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
       | FROM q, e WHERE q_id <> e.vec_id)
       |SELECT q_id, c_id, cos FROM sc WHERE cos >= $RangeTau
       |ORDER BY q_id, cos DESC, c_id""".stripMargin

  /** Per-label centroid stats: mean vector norm and count per label —
    * the IVF coarse-quantizer statistics pass (map-side partials). */
  def labelNormStats(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .withColumn("norm", expr(
        "sqrt(aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("norm")), 6).as("avg_norm"),
        round(min(col("norm")), 6).as("min_norm"),
        round(max(col("norm")), 6).as("max_norm"))
      .orderBy(col("label"))

  // ---------------------------------------------------------- ANN (LSH)

  /** Sign-random-projection hyperplanes: 8 planes × 64 dims of
    * deterministic ±1 weights (md5-seeded so both engines embed the
    * same literals). */
  private[queries] val Planes = 8
  private[queries] val Dims = 64
  private[queries] lazy val planeWeights: IndexedSeq[IndexedSeq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until Planes).map(j => (0 until Dims).map { i =>
      val hex = md.digest(s"$j:$i".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1
    })
  }

  /** Bucket id = 8-bit sign pattern of the plane projections (±1
    * weights are exact in float, so `vec_dot` matches the lambda
    * formulation bit-for-bit). */
  private def bucketExpr(embCol: String, arrayLit: Int => String): String =
    (0 until Planes).map { j =>
      val w = s"CAST(${arrayLit(j)} AS ARRAY<FLOAT>)"
      val proj = s"vec_dot($embCol, $w)"
      s"(CASE WHEN $proj > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")

  /** v3: ANN via LSH buckets — queries probe only their own bucket
    * (the scale path: the corpus is hash-partitioned by bucket, a query
    * touches one partition instead of the full corpus; the brute-force
    * v1 is the recall baseline). Top-3 in-bucket by exact cosine. */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.VectorDotProduct.register(s)
    val lit = (j: Int) => planeWeights(j).mkString("array(", ", ", ")")
    val e = emb(s, dir)
      .withColumn("bucket", expr(bucketExpr("embedding", lit)))
      .withColumn("nrm", expr(normExpr))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("nrm").as("qn"), col("bucket"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("cv"),
      col("nrm").as("cn"), col("bucket"))
    val scored = broadcast(q).join(c, Seq("bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", round(cosCol, 6))
      .select(col("q_id"), col("c_id"), col("cos"))
    twoLevelTopK(scored, "cos", 3, asc = false)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"),
        col("c_id"), col("cos"))
      .orderBy(col("q_id"), col("rnk"))
  }

  private lazy val annLshOracle: String = {
    val lit = (j: Int) => planeWeights(j).mkString("[", ", ", "]")
    def bucket(embCol: String) = (0 until Planes).map { j =>
      val proj = s"list_sum(list_transform(range(1, $Dims + 1), " +
        s"i -> CAST($embCol[i] AS DOUBLE) * (${lit(j)})[i]))"
      s"(CASE WHEN $proj > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (
       | SELECT vec_id, embedding, ${bucket("embedding")} AS bucket
       | FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS qv, bucket FROM e
       |  WHERE vec_id < 10),
       |c AS (SELECT vec_id AS c_id, embedding AS cv, bucket FROM e),
       |sc AS (
       | SELECT q_id, c_id,
       |  round(
       |   list_sum(list_transform(range(1, len(qv) + 1),
       |     i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) /
       |   (sqrt(list_sum(list_transform(qv,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
       |    sqrt(list_sum(list_transform(cv,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
       | FROM q JOIN c USING (bucket) WHERE q_id <> c_id),
       |r AS (
       | SELECT q_id, c_id, cos,
       |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
       | FROM sc)
       |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, cos
       |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin
  }

  // ---------------------------------------------------------- ANN (IVF)

  /** v4: IVF-style ANN — coarse cells are the labels, each cell carries
    * its centroid (per-dimension mean, rounded so both engines agree),
    * a query routes to its nearest centroid by cosine and probes only
    * that cell. The inverted-file layout at 100 TB: the corpus is
    * partitioned by cell, a query touches one partition; centroids are
    * a tiny broadcast table. Top-3 in-cell by exact cosine.
    * The gate query uses nprobe=1 (matching the oracle); see
    * [[annIvfProbes]] for the recall dial. */
  def annIvf(s: SparkSession, dir: String): DataFrame =
    annIvfProbes(s, dir, nprobe = 1)

  /** Multi-probe IVF: a query routes to its `nprobe` nearest centroids
    * and the top-k ranks across all probed cells. nprobe bounds the
    * recall loss of a query sitting on a cell boundary — the standard
    * IVF recall/latency dial (probing all cells ≡ brute force). Cells
    * stay disjoint, so widening the probe multiplies the scanned
    * fraction of the corpus by nprobe/num_cells, never the whole.
    *
    * The cells are the table's `label` column — routing only recalls
    * what the cells geometrically encode. BASELINE.md's ANN-recall
    * row measures both sides at 200k vectors: raw arbitrary labels recall
    * 0.00 (the honest negative), and one [[kmFinalAssign]] k-means
    * pass relabeling the corpus (the IVF index build) restores
    * threshold recall@3 = 1.00 at nprobe=1. */
  def annIvfProbes(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.VectorDotProduct.register(s)
    val e = emb(s, dir).withColumn("nrm", expr(normExpr))
    val cent = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("x").cast("double")), 6).as("cx"))
      .groupBy(col("label"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(pos, cx))), s -> s.cx)")
        .as("cvec"))
      .withColumn("cnorm", expr(
        "sqrt(aggregate(cvec, 0D, (a, x) -> a + x * x))"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("nrm").as("qn"))
    // route: nprobe nearest centroids by (rounded) cosine, label tie-break
    val qcos =
      "aggregate(zip_with(qv, cvec, (x, c) -> CAST(x AS DOUBLE) * c), 0D, (a, v) -> a + v)"
    val routeW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_c").desc, col("label"))
    val routed = broadcast(q).crossJoin(broadcast(cent))
      .withColumn("cos_c", round(expr(qcos) / (col("qn") * col("cnorm")), 6))
      .withColumn("rc", row_number().over(routeW))
      .filter(col("rc") <= nprobe)
      .select(col("q_id"), col("qv"), col("qn"), col("label"))
    // probe: exact cosine within the routed cell only (map-side off
    // the broadcast routed queries), vectors dropped before the cut
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("cv"),
      col("nrm").as("cn"), col("label"))
    val scored = broadcast(routed).join(c, Seq("label"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", round(cosCol, 6))
      .select(col("q_id"), col("c_id"), col("cos"))
    twoLevelTopK(scored, "cos", 3, asc = false)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"),
        col("c_id"), col("cos"))
      .orderBy(col("q_id"), col("rnk"))
  }

  private val annIvfOracle: String =
    """WITH e AS (
      | SELECT vec_id, label, embedding,
      |  sqrt(list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      | FROM embeddings),
      |dims AS (
      | SELECT label, i - 1 AS pos,
      |  round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS cx
      | FROM e, unnest(generate_series(1, len(embedding))) AS u(i)
      | GROUP BY 1, 2),
      |cent AS (
      | SELECT label, array_agg(cx ORDER BY pos) AS cvec FROM dims GROUP BY 1),
      |centn AS (
      | SELECT label, cvec,
      |  sqrt(list_sum(list_transform(cvec, x -> x * x))) AS cnorm
      | FROM cent),
      |q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qn FROM e
      |  WHERE vec_id < 10),
      |route AS (
      | SELECT q_id, qv, qn, label,
      |  row_number() OVER (PARTITION BY q_id ORDER BY
      |    round(list_sum(list_transform(range(1, len(qv) + 1),
      |      i -> CAST(qv[i] AS DOUBLE) * cvec[i])) / (qn * cnorm), 6) DESC,
      |    label) AS rc
      | FROM q CROSS JOIN centn),
      |routed AS (SELECT q_id, qv, qn, label FROM route WHERE rc = 1),
      |sc AS (
      | SELECT q_id, e.vec_id AS c_id,
      |  round(list_sum(list_transform(range(1, len(qv) + 1),
      |    i -> CAST(qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
      |   (qn * e.nrm), 6) AS cos
      | FROM routed JOIN e USING (label) WHERE q_id <> e.vec_id),
      |r AS (
      | SELECT q_id, c_id, cos,
      |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
      | FROM sc)
      |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, cos
      |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  /** v9: IVF ANN over LEARNED cells — the deployment shape of v4.
    * v4 routes on the table's raw `label` column, which honestly
    * measures recall 0.00 at fleet scale (labels are arbitrary wrt
    * geometry — see BASELINE.md's ANN-recall rows); a real IVF index
    * build LEARNS its cells. Here the cells are v7's deterministic
    * k-means assignment ([[kmFinalAssign]] — the measured-1.00-recall
    * path of the same BASELINE.md rows), the routing centroids are
    * one more [[kmRecompute]] over that final assignment (rounded to
    * 6 like every centroid literal), and a query routes to its
    * nearest learned centroid by cosine (nprobe=1) and probes only
    * that cell. Same scale shape as v4: the corpus partitions by
    * cell, centroids broadcast, a query scans 1/k of the corpus. */
  def annIvfLearned(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorDotProduct.register(s)
    val assigned = kmFinalAssign(s, dir)
    // routing centroids (one recompute over the final assignment):
    // ≤ k deterministic rows, memoized like the assignment centroids —
    // warm actions pay the one in-query assignment scan + probe join
    val cents = memoRows(s, memoKeyOf(s, dir, "v9route")) {
        kmRecompute(kmFinalAssign(s, dir))
      }
      .withColumn("cnorm", expr(
        "sqrt(aggregate(cvec, 0D, (a, x) -> a + x * x))"))
    val e = emb(s, dir).withColumn("nrm", expr(normExpr))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("nrm").as("qn"))
    val qcos =
      "aggregate(zip_with(qv, cvec, (x, c) -> CAST(x AS DOUBLE) * c), 0D, (a, v) -> a + v)"
    val routeW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_c").desc, col("cluster"))
    val routed = broadcast(q).crossJoin(broadcast(cents))
      .withColumn("cos_c", round(expr(qcos) / (col("qn") * col("cnorm")), 6))
      .withColumn("rc", row_number().over(routeW))
      .filter(col("rc") <= 1)
      .select(col("q_id"), col("qv"), col("qn"), col("cluster"))
    val c = assigned.select(col("vec_id").as("c_id"),
      col("embedding").as("cv"),
      expr("sqrt(vec_dot(embedding, embedding))").as("cn"), col("cluster"))
    val scored = broadcast(routed).join(c, Seq("cluster"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", round(cosCol, 6))
      .select(col("q_id"), col("c_id"), col("cos"))
    twoLevelTopK(scored, "cos", 3, asc = false)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"),
        col("c_id"), col("cos"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** v9 oracle: v7's unrolled Lloyd chain (ending at the final
    * assignment `a<iters>`), one more centroid recompute over it, then
    * the v4-style route + in-cell probe CTEs. */
  private lazy val annIvfLearnedOracle: String =
    s"""${kmeansCteChain("", s"vec_id < $KmeansK")},
       |cfd AS (
       | SELECT cluster, i - 1 AS pos,
       |  round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS cx
       | FROM a$KmeansIters, unnest(generate_series(1, len(embedding))) AS u(i)
       | GROUP BY 1, 2),
       |cf AS (
       | SELECT cluster, array_agg(cx ORDER BY pos) AS cvec,
       |  sqrt(list_sum(list_transform(array_agg(cx ORDER BY pos),
       |    x -> x * x))) AS cnorm
       | FROM cfd GROUP BY 1),
       |en AS (
       | SELECT vec_id, embedding,
       |  sqrt(list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       | FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qn FROM en
       |  WHERE vec_id < 10),
       |route AS (
       | SELECT q_id, qv, qn, cluster,
       |  row_number() OVER (PARTITION BY q_id ORDER BY
       |    round(list_sum(list_transform(range(1, len(qv) + 1),
       |      i -> CAST(qv[i] AS DOUBLE) * cvec[i])) / (qn * cnorm), 6) DESC,
       |    cluster) AS rc
       | FROM q CROSS JOIN cf),
       |routed AS (SELECT q_id, qv, qn, cluster FROM route WHERE rc = 1),
       |sc AS (
       | SELECT q_id, a.vec_id AS c_id,
       |  round(list_sum(list_transform(range(1, len(qv) + 1),
       |    i -> CAST(qv[i] AS DOUBLE) * CAST(en.embedding[i] AS DOUBLE))) /
       |   (qn * en.nrm), 6) AS cos
       | FROM routed JOIN a$KmeansIters a USING (cluster)
       |  JOIN en ON en.vec_id = a.vec_id
       | WHERE q_id <> a.vec_id),
       |r AS (
       | SELECT q_id, c_id, cos,
       |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
       | FROM sc)
       |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, cos
       |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  /** v5: per-vector int8 scalar quantization — the compression pass an
    * ANN index build runs before storing vectors. Each vector maps its
    * components to 0..254 codes against its own min/max range; the
    * output carries the integer code sum (exact across engines), the
    * quantization scale, and the max absolute reconstruction error.
    * Map-only: every statistic folds over the per-row array, so the
    * operator is a single scan at any corpus size. All arithmetic is
    * DOUBLE on float32 inputs — both engines widen identically, `/`
    * and `*` are IEEE-determined, and `round()` (half away from zero
    * on positives in both) then yields bit-identical codes. A
    * constant vector (mx = mn) quantizes to all-zero codes. */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .withColumn("mn", expr("CAST(array_min(embedding) AS DOUBLE)"))
      .withColumn("mx", expr("CAST(array_max(embedding) AS DOUBLE)"))
      .withColumn("codes", expr(
        "CASE WHEN mx > mn THEN transform(embedding, " +
          "x -> CAST(round((CAST(x AS DOUBLE) - mn) / (mx - mn) * 254.0) " +
          "AS BIGINT)) " +
          "ELSE transform(embedding, x -> CAST(0 AS BIGINT)) END"))
      .select(
        col("vec_id"),
        size(col("codes")).cast("long").as("n_dims"),
        expr("aggregate(codes, CAST(0 AS BIGINT), (a, c) -> a + c)")
          .as("code_sum"),
        round((col("mx") - col("mn")) / 254.0, 6).as("scale"),
        round(expr(
          "array_max(transform(sequence(0, size(codes) - 1), " +
            "i -> abs(CAST(embedding[i] AS DOUBLE) - " +
            "(mn + codes[i] * ((mx - mn) / 254.0)))))"), 6)
          .as("max_abs_err"))
      .orderBy(col("vec_id"))

  /** v6: binary-hash ANN — binarize each embedding to a 64-bit sign
    * code (bit i set iff component i > 0), then rank candidates for
    * the first 10 queries by Hamming distance (XOR + popcount).
    * The third ANN family next to LSH buckets (v3) and IVF cells
    * (v4): binarization is map-only and collapses each vector to ONE
    * long — the 100 TB corpus side never shuffles (v1's broadcast
    * shape), and the per-pair cost drops from a 64-float dot product
    * to a single XOR+bit_count, the standard first-pass filter before
    * exact re-ranking. Top-3 per query, ties by candidate id. */
  def annBinaryHamming(s: SparkSession, dir: String): DataFrame = {
    val codeExpr =
      "aggregate(sequence(0, size(embedding) - 1), CAST(0 AS BIGINT), " +
        "(a, i) -> a + IF(embedding[i] > 0, " +
        "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"
    val e = emb(s, dir).withColumn("code", expr(codeExpr))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("code").as("qc"))
    val c = e.select(col("vec_id").as("c_id"), col("code").as("cc"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("hamming", expr("bit_count(qc ^ cc)").cast("long"))
      .select(col("q_id"), col("c_id"), col("hamming"))
    twoLevelTopK(scored, "hamming", 3, asc = true)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"),
        col("c_id"), col("hamming"))
      .orderBy(col("q_id"), col("rnk"))
  }

  // --------------------------------------- prefix-dim re-rank (v13)

  /** Leading dims kept by the v13 first pass. On MRL-trained
    * ("Matryoshka") embeddings the prefix is trained to preserve the
    * full-vector ordering; the synthetic fixture's dims are iid, so
    * here the prefix behaves like a random 32-of-64 coordinate
    * projection — recall measured honestly below, v4-style. */
  private[queries] val PrefixDims = 32

  /** Candidates the first pass keeps per query for exact re-ranking.
    * Measured on the fixture (iid dims — the WORST case for
    * truncation): prefix=32/keep=50 → recall@5 = 0.74-0.76 vs exact
    * v1; keep=100 → 0.92-0.96; prefix=48/keep=50 → 0.96-0.98. An
    * MRL corpus sits far above these floors. */
  private[queries] val PrefilterK = 50

  /** Sub-buckets the stage-1 local cut fans across per query (the
    * two-level top-k: no single reducer ever sees a whole query's
    * corpus-sized candidate stream). */
  private[queries] val PrefilterSubs = 64

  /** TWO-LEVEL per-query top-k over an already-scored THIN
    * (q_id, c_id, score) relation — the distributed-selection idiom
    * all the full-scan ANN variants share: the local cut partitions
    * by (q_id, c_id mod 64) so each query fans across 64 reducers
    * (a single per-query window would sort a whole query's
    * corpus-sized candidate stream in ONE task at 100 TB), then the
    * global cut merges 64 bounded slices. Caller must project to the
    * thin triple BEFORE calling, so the only exchange this costs
    * moves ~24-byte rows, not vectors or LUTs. (score, c_id) is a
    * total order, so the two-level cut is exactly the single-pass
    * `row_number` cut the DuckDB oracles state. Emits `rnk`. */
  private def twoLevelTopK(scored: DataFrame, score: String, k: Int,
      asc: Boolean): DataFrame = {
    def ord = if (asc) col(score).asc else col(score).desc
    val localW = Window
      .partitionBy(col("q_id"), pmod(col("c_id"), lit(PrefilterSubs)))
      .orderBy(ord, col("c_id"))
    val globalW = Window.partitionBy(col("q_id")).orderBy(ord, col("c_id"))
    scored
      .withColumn("lrnk", row_number().over(localW))
      .filter(col("lrnk") <= k).drop("lrnk")
      .withColumn("rnk", row_number().over(globalW))
      .filter(col("rnk") <= k)
  }

  /** v13: truncated-dimension prefilter + exact re-rank — the
    * two-stage ANN shape that needs NO index at all (the fourth
    * family next to LSH/IVF/binary-hash): stage 1 scores every
    * candidate by cosine over only the leading 32 of 64 dims and
    * keeps the top-50 per query; stage 2 re-ranks those 50 with the
    * full-dimension cosine and emits the top-5.
    *
    * Scale shape, stage by stage: scoring is map-only (queries
    * broadcast, corpus never moves), and with the prefix stored as
    * its own parquet column the scan reads and multiplies 2× fewer
    * bytes than brute force. The stage-1 cut is a TWO-LEVEL top-k
    * over 24-byte (q_id, c_id, pcos) triples — the vectors are
    * dropped BEFORE the exchange (8× less shuffle) and the local
    * pass partitions by (q_id, c_id mod 64), so each of 640 reducers
    * keeps a 50-row slice and no task ever sorts a whole query's
    * corpus-sized stream (a single per-query window would — the
    * 1000-executor killer). The global pass merges 64×50 tiny rows
    * per query; stage 2 joins the ≤50 surviving ids back to the
    * corpus (candidate-fetch, a broadcast semi-probe) and re-ranks
    * with the full-dim cosine. Both cuts rank on the ROUNDED cosine
    * (6 dp) + candidate id — a total order, so the two-level cut is
    * exactly the oracle's single-pass cut. */
  def prefixRerank(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorDotProduct.register(s)
    val e = emb(s, dir)
      .withColumn("pv", expr(s"slice(embedding, 1, $PrefixDims)"))
      .withColumn("pnrm", expr("sqrt(vec_dot(pv, pv))"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("pv").as("qpv"),
        col("pnrm").as("qpn"))
    val c = e.select(col("vec_id").as("c_id"), col("pv").as("cpv"),
      col("pnrm").as("cpn"))
    // stage 1: map-only scoring, vectors dropped before the exchange
    val scored = broadcast(q).crossJoin(c)
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("pcos",
        round(expr("vec_dot(qpv, cpv)") / (col("qpn") * col("cpn")), 6))
      .select(col("q_id"), col("c_id"), col("pcos"))
    val survivors = twoLevelTopK(scored, "pcos", PrefilterK, asc = false)
      .select(col("q_id"), col("c_id"))
    // stage 2: fetch the ≤50 survivors' full vectors, exact re-rank
    val ef = emb(s, dir).withColumn("nrm", expr(normExpr))
    val qf = ef.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("nrm").as("qn"))
    val cf = ef.select(col("vec_id").as("c_id"), col("embedding").as("cv"),
      col("nrm").as("cn"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id"))
    broadcast(survivors).join(cf, Seq("c_id"))
      .join(broadcast(qf), Seq("q_id"))
      .withColumn("cos",
        round(expr("vec_dot(qv, cv)") / (col("qn") * col("cn")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"),
        col("c_id"), col("cos"))
      .orderBy(col("q_id"), col("rnk"))
  }

  private lazy val prefixRerankOracle: String =
    s"""WITH en AS (
       | SELECT vec_id, embedding,
       |  sqrt(list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
       |  sqrt(list_sum(list_transform(embedding[1:$PrefixDims],
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS pnrm
       | FROM embeddings),
       |q AS (
       | SELECT vec_id AS q_id, embedding AS qv, nrm AS qn, pnrm AS qpn
       | FROM en WHERE vec_id < 10),
       |c AS (
       | SELECT vec_id AS c_id, embedding AS cv, nrm AS cn, pnrm AS cpn
       | FROM en),
       |s1 AS (
       | SELECT q_id, c_id, qv, cv, qn, cn,
       |  round(list_sum(list_transform(range(1, $PrefixDims + 1),
       |    i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) /
       |   (qpn * cpn), 6) AS pcos
       | FROM q CROSS JOIN c WHERE q_id <> c_id),
       |s1r AS (
       | SELECT *, row_number() OVER (PARTITION BY q_id
       |   ORDER BY pcos DESC, c_id) AS prnk
       | FROM s1),
       |s2 AS (
       | SELECT q_id, c_id,
       |  round(list_sum(list_transform(range(1, len(qv) + 1),
       |    i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) /
       |   (qn * cn), 6) AS cos
       | FROM s1r WHERE prnk <= $PrefilterK),
       |r AS (
       | SELECT q_id, c_id, cos,
       |  row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, c_id) AS rnk
       | FROM s2)
       |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, cos
       |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  // ------------------------------------------------------ k-means (v7)

  private[queries] val KmeansK = 8
  private[queries] val KmeansIters = 2

  /** Squared-L2 argmin over the broadcast centroid array in ONE
    * projection: `array_min` over `struct(d, c)` compares the rounded
    * distance first, then the cluster id, so ties break toward the
    * lower id in both engines. No join, no window — assignment is
    * map-only, which is the property that matters at 100 TB (the
    * corpus never shuffles; only k×dims centroid partials do). */
  /** The per-centroid (rounded-distance, cluster) struct array —
    * `array_min` of it is the argmin assignment; `array_sort` + slice
    * of it is t9's multi-probe assignment (struct ordering compares d
    * first, then c, in both engines). */
  private[queries] def kmDistStructsOn(vec: String, cents: String): String =
    s"transform($cents, s -> named_struct(" +
      s"'d', round(aggregate(zip_with($vec, s.cvec, " +
      "(x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)), " +
      "0D, (a, v) -> a + v), 6), " +
      "'c', s.cluster))"

  private[queries] val kmDistStructs: String =
    kmDistStructsOn("embedding", "cents")

  private val kmAssignExpr: String = s"array_min($kmDistStructs)"

  /** Nearest-centroid assignment: centroids collapse to a single
    * array-of-structs row and broadcast; each corpus row evaluates the
    * argmin inside codegen. */
  private[queries] def kmAssign(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(
        cents.agg(collect_list(struct(col("cluster"), col("cvec")))
          .as("cents"))))
      .withColumn("m", expr(kmAssignExpr))
      .select(col("vec_id"), col("embedding"),
        col("m.c").as("cluster"), col("m.d").as("dist2"))

  /** Per-cluster dimension-wise mean, rounded to 6 so both engines
    * carry identical centroid literals into the next assignment (the
    * same canonicalization v4 applies to its IVF centroids). The
    * posexplode rows partial-aggregate to k×dims per partition before
    * the (tiny) exchange. */
  private[queries] def kmRecompute(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("cluster"), col("pos"))
      .agg(round(avg(col("x").cast("double")), 6).as("cx"))
      .groupBy(col("cluster"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(pos, cx))), s -> s.cx)")
        .as("cvec"))

  /** v7: deterministic Lloyd's k-means over the embedding column — the
    * semantic-clustering pass a training-data pipeline runs for
    * cluster-based dedup/mixing (SemDeDup-style) and for building IVF
    * coarse quantizers. Seeds are the first k vectors by id (cluster
    * id = seed vec_id), followed by [[KmeansIters]] fixed
    * assign/recompute rounds and a final assignment: assignments are
    * map-only against broadcast centroids (see [[kmAssignExpr]]),
    * recomputes shuffle only k×dims partials, and the per-cluster
    * report is a k-row aggregate. Scanning the corpus (iters+1)× is
    * inherent to Lloyd; at 100 TB the standard mitigation (fit on a
    * hash-sample, assign the full corpus once) composes from this
    * same shape plus t16's sampler. */

  /** One ≤ k-row centroid row set per (session, input fingerprint) —
    * the t9/t13 memo idiom applied to v7's Lloyd cascade: the
    * refinement centroids are deterministic literals of the input, so
    * repeated actions in one session (bench reps, v8/v9 sharing the
    * chain) pay ONE assignment scan instead of iters+1. Values are
    * plain (schema, rows) — no Spark blocks (`clearCache()` cannot
    * drop them, CacheLifecycleSpec) and no session reference (the
    * weak key stays collectable); keys fold a [[DedupOps.pathFingerprint]]
    * so a regenerated input misses the memo. */
  private val kmCentroidMemo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String,
        (org.apache.spark.sql.types.StructType,
          java.util.List[org.apache.spark.sql.Row])]]())

  /** Memoized eager materialization of a tiny deterministic relation
    * (computed OUTSIDE the map's bin lock — the Lloyd chain runs
    * eager corpus scans; racing duplicates are benign and idempotent,
    * putIfAbsent keeps one winner). */
  private def memoRows(s: SparkSession, key: String)
      (compute: => DataFrame): DataFrame = {
    val m = kmCentroidMemo.computeIfAbsent(s, _ =>
      new java.util.concurrent.ConcurrentHashMap[String,
        (org.apache.spark.sql.types.StructType,
          java.util.List[org.apache.spark.sql.Row])]())
    val cur = m.get(key)
    val v =
      if (cur != null) cur
      else {
        val c = compute
        val computed = (c.schema, c.collectAsList())
        val prev = m.putIfAbsent(key, computed)
        if (prev != null) prev else computed
      }
    s.createDataFrame(v._2, v._1)
  }

  private def memoKeyOf(s: SparkSession, dir: String, tag: String): String =
    s"$tag:$dir@${DedupOps.pathFingerprint(s, s"$dir/embeddings.parquet")}"

  /** The converged centroids the FINAL assignment scans against
    * (c[[KmeansIters]] — seeds when iters = 0), memoized. Centroid
    * VALUES are unchanged: this is exactly the relation the previous
    * lazy chain carried into the last [[kmAssign]], rounded to 6 per
    * recompute, so the v7/v8/v9 oracles' unrolled CTE chains still
    * reproduce them bit-for-bit. */
  private def kmConvergedCentroids(s: SparkSession, dir: String): DataFrame =
    memoRows(s, memoKeyOf(s, dir, "v7cents")) {
      lloydCentroids(emb(s, dir).select(col("vec_id"), col("embedding")),
        KmeansK)
    }

  /** The deterministic Lloyd cascade on any (vec_id, embedding)
    * relation: seeds = the first `k` vectors by id, `iters` fixed
    * assign/recompute rounds, returning the converged centroids.
    * Shared by v7's corpus chain and v10's per-subspace codebooks. */
  private def lloydCentroids(e: DataFrame, k: Int,
      iters: Int = KmeansIters): DataFrame = {
    var cents = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cluster"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cvec"))
    var assigned = kmAssign(e, cents)
    for (_ <- 0 until iters) {
      cents = kmRecompute(assigned)
      assigned = kmAssign(e, cents)
    }
    cents
  }

  /** The final per-vector assignment after the fixed Lloyd rounds —
    * shared by v7's per-cluster report, v8's outlier pruning and v9's
    * learned-cells routing. One map-only corpus scan against the
    * memoized converged centroids. */
  private[graft] def kmFinalAssign(s: SparkSession, dir: String): DataFrame =
    kmAssign(emb(s, dir).select(col("vec_id"), col("embedding")),
      kmConvergedCentroids(s, dir))

  def kmeansClusters(s: SparkSession, dir: String): DataFrame = {
    val assigned = kmFinalAssign(s, dir)
    // avg over exact integer micro-units: a double avg of the rounded
    // distances is summation-order-dependent and flipped a 6th decimal
    // between engines at sf0.1; BIGINT sums are order-free (headroom:
    // dist2 ≤ ~4 → 4e6 micro per row, ~1e12 rows before overflow)
    assigned
      .withColumn("d_micro", round(col("dist2") * 1e6).cast("long"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        sum(col("d_micro")).as("sum_micro"),
        min(col("vec_id")).as("min_member"))
      .select(col("cluster").as("cluster_id"), col("n"),
        round(col("sum_micro").cast("double") / col("n") / 1e6, 6)
          .as("avg_dist2"),
        col("min_member"))
      .orderBy(col("cluster_id"))
  }

  /** v8: cluster-based outlier pruning — the pass after semantic
    * clustering that drops each cluster's farthest tail (SemDeDup-style
    * curation: vectors far from their centroid are near-noise for that
    * cluster's concept). Keeps the closest 90 % per cluster by an
    * INTEGER rank threshold (`10·rank ≤ 9·n`, ties by vec id) — no
    * float percentile crosses the engine boundary, so the keep flag
    * cannot flip on an interpolation ulp. The centroid-nearest vector
    * is always kept (a curation pass must never empty a cluster —
    * matters only when `floor(0.9·n) = 0`, i.e. tiny clusters). One
    * window shuffle on the cluster key over v7's final assignment
    * (which itself never shuffles the corpus). */
  def clusterPrune(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("dist2"), col("vec_id"))
    val wc = Window.partitionBy(col("cluster"))
    kmFinalAssign(s, dir)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("n_cluster", count(lit(1)).over(wc))
      .select(col("vec_id"), col("cluster").as("cluster_id"),
        col("dist2"), col("rnk"),
        (col("rnk") === 1L || col("rnk") * 10 <= col("n_cluster") * 9)
          .as("keep"))
      .orderBy(col("vec_id"))
  }

  /** v14: the k-NN GRAPH — top-3 cosine neighbors for EVERY vector
    * (not a fixed query set): the all-corpus primitive SemDeDup-style
    * curation and graph-based ANN indexes are built from. Brute force
    * is O(n²); here candidate pairs are blocked on v7's learned
    * cells — the same corpus-partitioning every other cell-based op
    * shares — so the quadratic is bounded per cell and the per-vector
    * top-k window keys on the SOURCE vector (cardinality n: full
    * reducer parallelism, no per-query hotspot). Documented trade:
    * cross-cell neighbors are not candidates (t9's multi-probe is the
    * boundary-recall dial); at 100 TB the cell count scales with the
    * corpus (t9's k ∝ n idiom), keeping cells — and the per-cell
    * quadratic — constant-sized. Exactly SQL-expressible through the
    * same unrolled Lloyd CTE chain as v7/v8/v9. */
  def knnGraph(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorDotProduct.register(s)
    val e = kmFinalAssign(s, dir)
      .select(col("vec_id"), col("embedding"), col("cluster"))
      .withColumn("nrm", expr(normExpr))
    val l = e.select(col("vec_id").as("src"), col("embedding").as("qv"),
      col("nrm").as("qn"), col("cluster"))
    val r = e.select(col("vec_id").as("dst"), col("embedding").as("cv"),
      col("nrm").as("cn"), col("cluster"))
    val scored = l.join(r, Seq("cluster"))
      .filter(col("src") =!= col("dst"))
      .withColumn("cos",
        round(expr("vec_dot(qv, cv)") / (col("qn") * col("cn")), 6))
      .select(col("src"), col("dst"), col("cos"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy(col("src"), col("rnk"))
  }

  /** v15: the kNN graph over CORPUS-SCALED cells — the same blocking
    * t9 deploys (k = ⌈n/50⌉ capped at 512, 2-probe assignment, hard
    * 100-row sub-buckets), so the per-cell quadratic stays bounded at
    * ANY corpus size — v14's fixed-[[KmeansK]] cells are exactly
    * SQL-expressible but leave cells O(n/8); this is the shape that
    * survives 100 TB. The pair join emits each undirected pair once;
    * directing it both ways and windowing on the SOURCE keeps reducer
    * parallelism at cardinality n. Oracle: the shared t9 pair chain
    * ([[DedupOps.nearDupPairsCtes]]) + the directed per-source cut. */
  def knnGraphScaled(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorDotProduct.register(s)
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    knnDirectedTop3(DedupOps.cellBlockedPairs(
      DedupOps.nearDupAssign(e, memoKey =
        s"$dir@${DedupOps.pathFingerprint(s, s"$dir/embeddings.parquet")}"),
      DedupOps.NearDupCellCap))
  }

  /** The shared v15/v19 tail: direct each undirected within-cell pair
    * both ways and keep the top-3 per SOURCE vector (cardinality n —
    * full reducer parallelism, no per-query hotspot). */
  private[queries] def knnDirectedTop3(pairsIn: DataFrame): DataFrame = {
    val pairs = pairsIn.select(col("vec_a"), col("vec_b"), col("cos"))
    val directed = pairs
      .select(col("vec_a").as("src"), col("vec_b").as("dst"), col("cos"))
      .unionAll(pairs
        .select(col("vec_b").as("src"), col("vec_a").as("dst"), col("cos")))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst"))
    directed
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy(col("src"), col("rnk"))
  }

  /** v19: the v15 kNN graph SERVED from the persisted cell index —
    * the v17 build/serve split applied to the t9/v15 learned blocking
    * cells (the OTHER per-session Lloyd cascade, the one the r11
    * verdict flagged as still rebuilding per session — 162 s cold at
    * fleet scale). The serve path reads ONLY the artifact's `assign`
    * relation (cluster, vec_id, embedding — the inverted file written
    * by [[DedupOps.buildNearDupIndex]]) and runs the identical
    * within-cell pair join + directed top-3 tail, so the result is
    * bit-equal to v15 and the SAME oracle hashes it: cell assignment
    * is the only learned state, and it rides in the artifact. A fresh
    * session pays only the artifact read (measured in BASELINE.md
    * next to the cold in-query cascade). */
  def knnGraphServe(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorDotProduct.register(s)
    val idx = DedupOps.buildNearDupIndex(s, dir)
    knnDirectedTop3(DedupOps.cellBlockedPairs(
      DedupOps.readStable(s, s"$idx/assign"), DedupOps.NearDupCellCap))
  }

  /** v20: kNN-graph MAINTENANCE without relearning — the q33/t34
    * incremental idiom applied to the vector index: cells are learned
    * on the BASE tranche (ids ≤ ⌊(min+max)/2⌋) and today's DELTA is
    * ABSORBED by one map-only argmin pass against those fixed
    * centroids (O(batch · k) off a broadcast — no Lloyd cascade over
    * the corpus, the 162-236 s fleet wall a naive re-index pays per
    * batch). The graph then runs the identical within-cell pair join +
    * directed top-3 tail over the merged assignment. Exactly
    * SQL-expressible: the oracle's Lloyd chain runs over the base
    * only, then a separate final-probe CTE assigns ALL vectors — so a
    * hash match proves the engine really did NOT relearn on the delta
    * (relearned cells diverge from base-learned cells immediately).
    * The drift dial a production pipeline adds — relearn when the
    * delta fraction passes a threshold — is the v19 build, already
    * measured. */
  def knnGraphDeltaAppend(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorDotProduct.register(s)
    val (assigned, _) = DedupOps.nearDupSplitAssign(s, dir)
    knnDirectedTop3(DedupOps.cellBlockedPairs(
      assigned, DedupOps.NearDupCellCap))
  }

  // ------------- v21-v24: the vector MEMBER shelf (MemberShelf.vector
  // — the band shelf's four deletion verbs on the `assign` inverted
  // file; the learned cells stay frozen, re-election is re-ranking)

  /** v21's deterministic erasure batch: every 13th vector — a
    * "random" GDPR/takedown slice, index-derivable (production
    * receives the list from outside) and SQL-expressible so the
    * oracle can model it. ~7.7 % of the corpus, dense enough that
    * many survivors lose a top-3 neighbor and must re-rank. */
  private[graft] val V21ForgetMod = 13L

  /** v21: FORGET vectors from the living kNN index, served
    * ([[MemberShelf.v21]]): the erasure batch is tombstoned and the
    * graph runs over the SURVIVING members — one anti-join before the
    * identical within-cell pair join + directed top-3 tail. The oracle
    * runs the full-corpus Lloyd chain and filters membership AFTER
    * assignment, exactly the engine's dataflow
    * ([[DedupOps.nearDupPairsCtesWhere]]); bucket sub-splits recompute
    * over survivors on both sides. Re-rank + compaction pinned in
    * TombstoneSpec. */
  def vectorForget(s: SparkSession, dir: String): DataFrame =
    MemberShelf.serve(s, dir, MemberShelf.v21)

  /** v24: the staged external erasure list over the embeddings id
    * range, served ([[MemberShelf.v24]]). Oracle = the v15 chain with
    * the mod-7 survivors filtered AFTER the frozen full-corpus
    * assignment. */
  def vectorTakedownExternal(s: SparkSession, dir: String): DataFrame =
    MemberShelf.serve(s, dir, MemberShelf.v24)

  /** v22: id-span retention on the vector shelf ([[MemberShelf.v22]]).
    * Oracle = the frozen-assignment chain filtered to vec_id above the
    * second horizon AFTER assignment. */
  def vectorAgeOff(s: SparkSession, dir: String): DataFrame =
    MemberShelf.serve(s, dir, MemberShelf.v22)

  /** v23: event-time retention on the vector shelf
    * ([[MemberShelf.v23]]): embedding time is not monotone with vec_id,
    * so the timestamp rides in the members. Oracle = the
    * frozen-assignment chain filtered to surviving derived times AFTER
    * assignment. */
  def vectorTimeAgeOff(s: SparkSession, dir: String): DataFrame =
    MemberShelf.serve(s, dir, MemberShelf.v23)

  private lazy val knnGraphScaledOracle: String =
    s"""${DedupOps.nearDupPairsCtes},
       |d AS (
       | SELECT vec_a AS src, vec_b AS dst, cos FROM p
       | UNION ALL
       | SELECT vec_b AS src, vec_a AS dst, cos FROM p),
       |rr AS (
       | SELECT src, dst, cos,
       |  row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
       | FROM d)
       |SELECT src, dst, cos, CAST(rnk AS BIGINT) AS rnk
       |FROM rr WHERE rnk <= 3 ORDER BY src, rnk""".stripMargin

  private lazy val knnGraphOracle: String =
    s"""${kmeansCteChain("", s"vec_id < $KmeansK")},
       |en AS (
       | SELECT a.vec_id, a.cluster, a.embedding,
       |  sqrt(list_sum(list_transform(a.embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       | FROM a$KmeansIters a),
       |pairs AS (
       | SELECT l.vec_id AS src, r.vec_id AS dst,
       |  round(list_sum(list_transform(range(1, len(l.embedding) + 1),
       |    i -> CAST(l.embedding[i] AS DOUBLE) *
       |         CAST(r.embedding[i] AS DOUBLE))) /
       |   (l.nrm * r.nrm), 6) AS cos
       | FROM en l JOIN en r
       |  ON l.cluster = r.cluster AND l.vec_id <> r.vec_id),
       |rr AS (
       | SELECT src, dst, cos,
       |  row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
       | FROM pairs)
       |SELECT src, dst, cos, CAST(rnk AS BIGINT) AS rnk
       |FROM rr WHERE rnk <= 3 ORDER BY src, rnk""".stripMargin

  /** v7/v8/t9 oracle CTE chain: the same seeds/rounds unrolled —
    * row_number argmin instead of array_min, identical rounded
    * values. Parameterized so t9 can prepend a CTE computing a
    * corpus-scaled k and seed on it (`extraCtes` must end with a
    * comma when non-empty; `seedWhere` filters the seed vectors). */
  private[queries] def kmeansCteChain(extraCtes: String, seedWhere: String,
      iters: Int = KmeansIters,
      eCte: String = "SELECT vec_id, embedding FROM embeddings"): String =
    s"WITH $extraCtes" + kmeansCtesBody("", seedWhere, iters, eCte)

  /** The chain's CTE list without the `WITH`, every generated name
    * prefixed with `p` — so several independent chains (v10 runs one
    * per PQ subspace) compose inside ONE statement. With `p = ""` the
    * text differs from the historical single-chain form only by a
    * no-op self-alias (`FROM e e`), so the v7/v8/v9/t9 oracles'
    * VALUES are unchanged — re-verified by the full gate. */
  private[queries] def kmeansCtesBody(p: String, seedWhere: String,
      iters: Int = KmeansIters,
      eCte: String = "SELECT vec_id, embedding FROM embeddings"): String = {
    def assignCte(idx: Int, centCte: String): String =
      s"""${p}a${idx}raw AS (
         | SELECT e.vec_id, e.embedding, c.cluster,
         |  round(list_sum(list_transform(range(1, len(e.embedding) + 1),
         |   i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) *
         |        (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), 6) AS d
         | FROM ${p}e e, $centCte c),
         |${p}a$idx AS (
         | SELECT vec_id, embedding, cluster, d FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d, cluster) AS rn
         |  FROM ${p}a${idx}raw) WHERE rn = 1)""".stripMargin
    def recomputeCte(idx: Int, fromCte: String): String =
      s"""${p}c${idx}dims AS (
         | SELECT cluster, i - 1 AS pos,
         |  round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS cx
         | FROM $fromCte, unnest(generate_series(1, len(embedding))) AS u(i)
         | GROUP BY 1, 2),
         |${p}c$idx AS (
         | SELECT cluster, array_agg(cx ORDER BY pos) AS cvec
         | FROM ${p}c${idx}dims GROUP BY 1)""".stripMargin
    val rounds = (0 until iters).map { r =>
      recomputeCte(r + 1, s"${p}a$r") + ",\n" + assignCte(r + 1, s"${p}c${r + 1}")
    }.mkString(",\n")
    s"""${p}e AS ($eCte),
       |${p}c0 AS (
       | SELECT vec_id AS cluster,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
       | FROM ${p}e WHERE $seedWhere),
       |${assignCte(0, s"${p}c0")},
       |$rounds""".stripMargin
  }

  private lazy val kmeansCtes: String =
    kmeansCteChain("", s"vec_id < $KmeansK")

  private lazy val kmeansOracle: String =
    s"""$kmeansCtes
       |SELECT cluster AS cluster_id, count(*) AS n,
       | round(CAST(sum(CAST(round(d * 1000000) AS BIGINT)) AS DOUBLE)
       |   / count(*) / 1000000.0, 6) AS avg_dist2,
       | min(vec_id) AS min_member
       |FROM a$KmeansIters GROUP BY 1 ORDER BY 1""".stripMargin

  /** v8 oracle: v7's unrolled rounds, then the integer-rank keep. */
  private lazy val clusterPruneOracle: String =
    s"""$kmeansCtes
       |SELECT vec_id, cluster AS cluster_id, d AS dist2,
       | CAST(row_number() OVER
       |   (PARTITION BY cluster ORDER BY d, vec_id) AS BIGINT) AS rnk,
       | (row_number() OVER (PARTITION BY cluster ORDER BY d, vec_id) = 1
       |  OR row_number() OVER (PARTITION BY cluster ORDER BY d, vec_id) * 10
       |   <= count(*) OVER (PARTITION BY cluster) * 9) AS keep
       |FROM a$KmeansIters ORDER BY vec_id""".stripMargin

  private[queries] val PqM = 4
  private[queries] val PqK = 16
  private[queries] val PqSubDim = 16

  /** v10: product quantization — the compression that makes
    * billion-vector ANN serving feasible: split each 64-dim embedding
    * into [[PqM]] = 4 sub-vectors of [[PqSubDim]] = 16 dims, learn a
    * [[PqK]] = 16-entry codebook per subspace (the same deterministic
    * Lloyd cascade as v7, run on the slice), and encode every vector
    * as 4 code ids — 256 B of floats → 4 B, with the per-vector
    * reconstruction error (sum of subspace residuals) reported so the
    * rate/distortion trade is measurable. v5's int8 scalar
    * quantization is the 4× point on the same curve; PQ is the 64×
    * point, and its codes are what an IVF-PQ index (v9's cells +
    * these codes) scans instead of raw vectors.
    *
    * Scale shape: codebook training runs [[KmeansIters]]+1 scans over
    * the 16-dim SLICES (memoized per (session, input, subspace); at
    * 100 TB you train on a t16-style hash-sample — v7's documented
    * mitigation — since 4×16 centroids are corpus-statistics, not
    * per-row state). ENCODING — the part that touches every row — is
    * ONE map-only pass: all four codebooks ride in as broadcast
    * one-row array columns and each row computes its four argmins
    * inside codegen. No corpus shuffle anywhere; the final orderBy is
    * presentation. */
  def pqQuantize(s: SparkSession, dir: String): DataFrame = {
    val coded = pqEncoded(s, dir)
    coded.select(col("vec_id") +:
        (0 until PqM).map(m => col(s"m$m.c").as(s"c$m")) :+
        round((0 until PqM).map(m => col(s"m$m.d")).reduce(_ + _), 6)
          .as("recon_err"): _*)
      .orderBy(col("vec_id"))
  }

  /** Subspace slice of the 64-dim embedding column (1-based). */
  private def pqSlice(m: Int) =
    s"slice(embedding, ${m * PqSubDim + 1}, $PqSubDim)"

  /** The four per-subspace codebooks (converged Lloyd centroids on
    * each 16-dim slice), memoized per (session, input, subspace) —
    * shared by v10's encoder and v11's distance tables. */
  private def pqCodebooks(s: SparkSession, dir: String): Seq[DataFrame] = {
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    (0 until PqM).map { m =>
      memoRows(s, memoKeyOf(s, dir, s"v10cents$m")) {
        lloydCentroids(
          e.select(col("vec_id"), expr(pqSlice(m)).as("embedding")), PqK)
      }
    }
  }

  /** One map-only encoding pass over any relation with an `embedding`
    * column: all four codebooks ride in as broadcast one-row array
    * columns; each row computes its four argmins (`m0`..`m3` structs
    * of code `c` + residual `d`) inside codegen. Applying this to an
    * ALREADY-derived relation (e.g. the cell assignment) keeps cells
    * and codes in one scan — no corpus self-join. */
  private def pqEncodeCols(s: SparkSession, dir: String,
      df: DataFrame): DataFrame =
    pqEncodeColsWith(pqCodebooks(s, dir), df)

  /** [[pqEncodeCols]] over EXPLICIT codebook relations — v17 passes
    * codebooks loaded from the written index artifact instead of the
    * in-session Lloyd memo. */
  private def pqEncodeColsWith(books: Seq[DataFrame],
      df: DataFrame): DataFrame = {
    val withBooks = books.zipWithIndex.foldLeft(df) {
      case (d, (b, m)) =>
        d.crossJoin(broadcast(b.agg(
          collect_list(struct(col("cluster"), col("cvec"))).as(s"cents$m"))))
    }
    (0 until PqM).foldLeft(withBooks) { (d, m) =>
      d.withColumn(s"m$m",
        expr(s"array_min(${kmDistStructsOn(pqSlice(m), s"cents$m")})"))
    }
  }

  private def pqEncoded(s: SparkSession, dir: String): DataFrame =
    pqEncodeCols(s, dir, emb(s, dir).select(col("vec_id"), col("embedding")))

  /** Per-query ADC lookup tables over any relation with an
    * `embedding` column: `lut0`..`lut3`, each the [[PqK]] rounded
    * distances from the row's subspace slice to the `array_sort`ed
    * codebook (position i+1 = code i — see [[pqAdcSearch]]).
    * Passthrough columns survive. */
  private def pqQueryLuts(s: SparkSession, dir: String,
      q: DataFrame): DataFrame =
    pqQueryLutsWith(pqCodebooks(s, dir), q)

  /** [[pqQueryLuts]] over explicit codebook relations (v17's loaded
    * artifact). The LUT position ↔ code mapping is order-independent
    * of the input relation: the struct array is `array_sort`ed before
    * the transform. */
  private def pqQueryLutsWith(books: Seq[DataFrame],
      q: DataFrame): DataFrame = {
    val withBooks = books.zipWithIndex.foldLeft(q) {
      case (d, (b, m)) =>
        d.crossJoin(broadcast(b.agg(
          collect_list(struct(col("cluster"), col("cvec"))).as(s"cents$m"))))
    }
    val withLuts = (0 until PqM).foldLeft(withBooks) { (d, m) =>
      d.withColumn(s"lut$m", expr(
        s"transform(array_sort(cents$m), s -> " +
          s"round(aggregate(zip_with(${pqSlice(m)}, s.cvec, " +
          "(x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)), " +
          "0D, (a, v) -> a + v), 6))"))
    }
    (0 until PqM).foldLeft(withLuts)((d, m) => d.drop(s"cents$m"))
  }

  /** v11: PQ ASYMMETRIC-DISTANCE search (ADC) — the query path v10's
    * codes exist for, and the scan an IVF-PQ index runs inside each
    * probed cell: a query precomputes, per subspace, the distance
    * from its own 16-dim slice to all [[PqK]] codebook entries (a
    * 4×16 lookup table — 64 doubles per query), and each corpus
    * vector's approximate distance is then FOUR TABLE LOOKUPS + 3
    * adds over its 4-byte code, never touching the raw floats.
    * That asymmetry (exact query side × quantized corpus side) is
    * what makes billion-vector serving feasible: at 100 TB of raw
    * vectors the ADC scan reads the ~64×-smaller code column —
    * map-only over the codes with the 10-row LUT table broadcast,
    * one tiny top-k window at the end, no corpus shuffle. Top-3 per
    * query by (adc, c_id); `adc` is the sum of the four rounded
    * subspace entries (the same rounding the encoder's residuals
    * carry, so both engines sum identical doubles).
    *
    * The codebook struct arrays are `array_sort`ed (natural struct
    * order = cluster asc; ids 0..15 are distinct) so position i+1 in
    * each LUT is exactly code i — `element_at` by code is then
    * positional, no per-row map lookup. */
  def pqAdcSearch(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    val codes = pqEncoded(s, dir).select(col("vec_id").as("c_id") +:
      (0 until PqM).map(m => col(s"m$m.c").as(s"c$m")): _*)
    val q = pqQueryLuts(s, dir, e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding")))
      .select(col("q_id") +: (0 until PqM).map(m => col(s"lut$m")): _*)
    // score map-side off the broadcast LUTs, then drop them BEFORE the
    // cut's exchange: the 4×16-double LUT columns (512 B/row) must
    // never ride the per-pair shuffle
    val scored = broadcast(q).crossJoin(codes)
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("adc_raw", (0 until PqM)
        .map(m => expr(s"element_at(lut$m, CAST(c$m AS INT) + 1)"))
        .reduce(_ + _))
      .select(col("q_id"), col("c_id"), col("adc_raw"))
    twoLevelTopK(scored, "adc_raw", 3, asc = true)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"), col("c_id"),
        round(col("adc_raw"), 6).as("adc"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** v12: the FULL IVF-PQ index — the composition every
    * billion-vector serving system actually deploys, assembled from
    * the gated pieces: v7's learned k-means cells partition the
    * corpus (the inverted file), v10's product-quantization codes
    * compress each cell's vectors 64×, a query routes to its nearest
    * cell centroid by cosine (v9's router, nprobe = 1) and then
    * ADC-scans ONLY that cell's codes with its v11 lookup tables.
    * Top-3 per query by (adc, c_id) within the probed cell.
    *
    * Scale shape — why this is THE serving index: the stored index is
    * (cluster, 4-byte code) per vector, hash-partitioned by cluster;
    * a query touches one partition (1/k of the corpus) and reads the
    * 64×-compressed column, so the scanned bytes per query drop by
    * k × 64 vs brute force over raw floats. Cells + codes derive in
    * ONE pass over the corpus (the assignment relation is encoded
    * directly — no corpus self-join); routing centroids and
    * codebooks are tiny memoized broadcasts. Recall trades at the
    * cell boundary (nprobe) and the codebook resolution — both
    * measured in BASELINE.md's ANN-recall row. */
  def pqIvfSearch(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorDotProduct.register(s)
    // the stored index: cell + 4 codes per vector, one corpus pass
    val index = pqEncodeCols(s, dir, kmFinalAssign(s, dir))
      .select(col("vec_id").as("c_id") +: col("cluster") +:
        (0 until PqM).map(m => col(s"m$m.c").as(s"c$m")): _*)
    // v9's router: one recompute over the final assignment, memoized
    val cents = memoRows(s, memoKeyOf(s, dir, "v9route")) {
        kmRecompute(kmFinalAssign(s, dir))
      }
    ivfPqServeWith(index, cents, pqCodebooks(s, dir), ivfPqQueries(s, dir))
  }

  /** The gate's fixed query rows (first 10 corpus vectors) with their
    * precomputed norms — the query side of every IVF-PQ serve. */
  private def ivfPqQueries(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).withColumn("nrm", expr(normExpr))
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding"), col("nrm"))

  /** The IVF-PQ SERVING dataflow over explicit index relations —
    * `index` (c_id, cluster, c0..c3), `cents` (cluster, cvec) and the
    * four per-subspace codebooks. Shared verbatim by v12 (in-session
    * index) and v17 (index loaded from the written artifact): route
    * each query to its nearest cell centroid by cosine, build its
    * 4×[[PqK]] ADC lookup tables, scan ONLY that cell's codes
    * map-side, cut top-3 over thin triples. */
  private def ivfPqServeWith(index: DataFrame, cents0: DataFrame,
      books: Seq[DataFrame], q0: DataFrame): DataFrame = {
    val cents = cents0.withColumn("cnorm", expr(
      "sqrt(aggregate(cvec, 0D, (a, x) -> a + x * x))"))
    val qcos = "aggregate(zip_with(embedding, cvec, " +
      "(x, c) -> CAST(x AS DOUBLE) * c), 0D, (a, v) -> a + v)"
    val routeW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_c").desc, col("cluster"))
    val routed = broadcast(q0).crossJoin(broadcast(cents))
      .withColumn("cos_c", round(expr(qcos) / (col("nrm") * col("cnorm")), 6))
      .withColumn("rc", row_number().over(routeW))
      .filter(col("rc") <= 1)
      .select(col("q_id"), col("embedding"), col("cluster"))
    val q = pqQueryLutsWith(books, routed)
      .select(col("q_id") +: col("cluster") +:
        (0 until PqM).map(m => col(s"lut$m")): _*)
    // in-cell ADC scoring stays map-side; the LUTs drop before the cut
    val scored = broadcast(q).join(index, Seq("cluster"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("adc_raw", (0 until PqM)
        .map(m => expr(s"element_at(lut$m, CAST(c$m AS INT) + 1)"))
        .reduce(_ + _))
      .select(col("q_id"), col("c_id"), col("adc_raw"))
    twoLevelTopK(scored, "adc_raw", 3, asc = true)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"), col("c_id"),
        round(col("adc_raw"), 6).as("adc"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** v18: INT8-quantized ANN with exact re-rank — the middle rung of
    * the serving-compression ladder the engine now covers end-to-end
    * (fp32 brute v1 → int8 v18 at 4× → PQ v11/v12 at 64×), and the
    * scheme most serving stacks deploy first because it needs no
    * codebook training at all. One corpus statistic (the global max
    * |component|, one aggregate) symmetrically quantizes every
    * vector to 64 small ints; stage 1 scores candidates by the
    * QUANTIZED COSINE — the exact integer code dot over the integer
    * code norms (every operand an exact integer, so both engines
    * compute the identical IEEE ratio), the cut ranking on the
    * ROUNDED score + id (v13's total-order idiom) — and stage 2
    * re-ranks only the survivors with exact full-precision cosine.
    * Cosine, NOT the raw integer dot: the raw dot is norm-biased,
    * and on a near-dup family whose members drift in one component
    * (exactly the 100 TB dedup-heavy shape, and the fleet corpus) it
    * ranks the far end of the family — larger aligned component,
    * larger dot — above the true nearest twins (measured: fleet
    * recall@3 0.00 ranked by raw dot, 1.00 by quantized cosine at
    * the same wall).
    *
    * Scale shape: the scanned column is 4× smaller than the floats
    * and the stage-1 score is an integer multiply-add loop (the
    * SIMD-friendliest scoring there is); queries broadcast, the
    * corpus never shuffles, the cut moves 20-byte triples, and
    * stage 2 touches ≤ queries × [[Int8Keep]] raw vectors through a
    * broadcast semi-join. Recall trades only at the quantization
    * resolution — measured against brute in BASELINE.md's `v18`
    * row like every other variant. */
  private[queries] val Int8Keep = 25
  def annInt8Rerank(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorDotProduct.register(s)
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    // the one corpus statistic: global max |component| (max is
    // order-exact over doubles, so both engines hold the identical S)
    val scale = e.agg(max(expr(
      "aggregate(embedding, 0D, (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"))
      .as("s_max"))
    val coded = e.crossJoin(broadcast(scale))
      .select(col("vec_id"), col("embedding"),
        expr("transform(embedding, x -> " +
          "CAST(round(CAST(x AS DOUBLE) / s_max * 127) AS BIGINT))")
          .as("codes"))
      .withColumn("n2", expr(
        "aggregate(codes, 0L, (acc, v) -> acc + v * v)"))
    val q = coded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("codes").as("qc"),
        col("n2").as("qn2"))
    val c = coded.select(col("vec_id").as("c_id"), col("codes").as("cc"),
      col("n2").as("cn2"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("int_dot", expr(
        "aggregate(zip_with(qc, cc, (a, b) -> a * b), 0L, (acc, v) -> acc + v)"))
      .withColumn("qcos", round(col("int_dot").cast("double") /
        (sqrt(col("qn2").cast("double")) * sqrt(col("cn2").cast("double"))),
        6))
      .select(col("q_id"), col("c_id"), col("int_dot"), col("qcos"))
    val survivors = twoLevelTopK(scored, "qcos", Int8Keep, asc = false)
      .select(col("q_id"), col("c_id"), col("int_dot"))
    // stage 2: exact cosine over the ≤ 10 × Int8Keep survivors only
    val en = e.withColumn("nrm", expr(normExpr))
    val qv = en.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("nrm").as("qn"))
    val rer = broadcast(survivors)
      .join(qv, Seq("q_id"))
      .join(en.select(col("vec_id").as("c_id"), col("embedding").as("cv"),
        col("nrm").as("cn")), Seq("c_id"))
      .withColumn("cos", round(cosCol, 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id"))
    rer.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("rnk"), col("c_id"), col("cos"),
        col("int_dot"))
      .orderBy(col("q_id"), col("rnk"))
  }

  private lazy val annInt8Oracle: String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |sc AS (
       | SELECT max(m) AS s_max FROM (
       |  SELECT list_max(list_transform(embedding,
       |    x -> abs(CAST(x AS DOUBLE)))) AS m FROM e)),
       |coded AS (
       | SELECT vec_id, embedding,
       |  list_transform(embedding, x ->
       |   CAST(round(CAST(x AS DOUBLE) / s_max * 127) AS BIGINT)) AS codes
       | FROM e, sc),
       |cn AS (
       | SELECT vec_id, codes,
       |  CAST(list_sum(list_transform(codes, v -> v * v)) AS BIGINT) AS n2
       | FROM coded),
       |q AS (SELECT vec_id AS q_id, codes AS qc, n2 AS qn2 FROM cn
       |  WHERE vec_id < 10),
       |s1 AS (
       | SELECT q_id, c.vec_id AS c_id,
       |  CAST(list_sum(list_transform(range(1, len(qc) + 1),
       |    i -> qc[i] * c.codes[i])) AS BIGINT) AS int_dot,
       |  round(CAST(list_sum(list_transform(range(1, len(qc) + 1),
       |    i -> qc[i] * c.codes[i])) AS DOUBLE) /
       |   (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))), 6)
       |   AS qcos
       | FROM q, cn c WHERE q_id <> c.vec_id),
       |surv AS (
       | SELECT q_id, c_id, int_dot,
       |  row_number() OVER (PARTITION BY q_id
       |    ORDER BY qcos DESC, c_id) AS srnk
       | FROM s1),
       |rer AS (
       | SELECT s.q_id, s.c_id, s.int_dot,
       |  round(
       |   list_sum(list_transform(range(1, len(a.embedding) + 1),
       |     i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
       |   (sqrt(list_sum(list_transform(a.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
       |    sqrt(list_sum(list_transform(b.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
       | FROM surv s JOIN e a ON s.q_id = a.vec_id
       |  JOIN e b ON s.c_id = b.vec_id
       | WHERE s.srnk <= $Int8Keep),
       |r AS (
       | SELECT q_id, c_id, cos, int_dot,
       |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id)
       |    AS rnk
       | FROM rer)
       |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, cos, int_dot
       |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  /** Where the persisted ANN index for `dir` lives. The input
    * fingerprint rides in the directory name (the s10/q31 idiom), so
    * a regenerated embeddings table re-builds instead of serving a
    * stale index — and a FRESH SESSION (or process) finds a current
    * artifact by recomputing the same name, which is the whole point:
    * build once, serve many. */
  private[graft] def annIndexPath(s: SparkSession, dir: String)
      : java.nio.file.Path =
    DedupOps.artifactDir("ann_index", memoKeyOf(s, dir, "v17"))

  /** BUILD the IVF-PQ index ARTIFACT — the expensive one-time pass a
    * deployment runs offline: learns cells (v7's Lloyd cascade),
    * routing centroids (v9) and the four PQ codebooks (v10), encodes
    * every vector, and WRITES the index as three parquet relations —
    * `cells` (c_id, cluster, c0..c3 — the inverted file at 64×
    * compression, the only corpus-sized piece), `centroids` (cluster,
    * cvec) and `codebooks` (m, cluster, cvec). Idempotent: a present
    * `_INDEX_READY` marker short-circuits, including across sessions.
    * At 100 TB the cells relation is additionally written partitioned
    * by cluster so a serve touches one partition; at gate scale the
    * cluster column + parquet row-group stats carry the same prune. */
  private[graft] def buildAnnIndex(s: SparkSession, dir: String): String = {
    val out = annIndexPath(s, dir)
    DedupOps.ensureArtifact(out) {
      graft.functions.VectorDotProduct.register(s)
      pqEncodeCols(s, dir, kmFinalAssign(s, dir))
        .select(col("vec_id").as("c_id") +: col("cluster") +:
          (0 until PqM).map(m => col(s"m$m.c").as(s"c$m")): _*)
        .write.mode("overwrite").parquet(out.resolve("cells").toString)
      memoRows(s, memoKeyOf(s, dir, "v9route")) {
          kmRecompute(kmFinalAssign(s, dir))
        }
        .write.mode("overwrite").parquet(out.resolve("centroids").toString)
      pqCodebooks(s, dir).zipWithIndex
        .map { case (b, m) => b.withColumn("m", lit(m)) }
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(out.resolve("codebooks").toString)
    }
  }

  /** v17: SERVE from the WRITTEN index — the other half of the
    * build/serve split every production vector deployment runs: no
    * Lloyd iteration, no codebook learning, no in-session memo — the
    * serving plan reads `cells`/`centroids`/`codebooks` parquet and
    * answers queries through the identical v12 dataflow, so the
    * result is bit-equal to v12 and the SAME oracle hashes it. A
    * fresh session pays only the artifact read (measured in
    * BASELINE.md next to the cold in-query build), which is what
    * makes build-once / serve-many real rather than a memo artifact
    * of one long-lived session. The first call per (input
    * fingerprint) builds the artifact if absent — the cost the
    * offline index build pays once. */
  def annIndexServe(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorDotProduct.register(s)
    val idx = buildAnnIndex(s, dir)
    val index = DedupOps.readStable(s, s"$idx/cells")
    val cents = DedupOps.readStable(s, s"$idx/centroids")
    val cb = DedupOps.readStable(s, s"$idx/codebooks")
    val books = (0 until PqM).map(m =>
      cb.filter(col("m") === m).select(col("cluster"), col("cvec")))
    ivfPqServeWith(index, cents, books, ivfPqQueries(s, dir))
  }

  /** v10 oracle: four independent prefixed Lloyd chains (one per
    * subspace slice) composed in one statement, joined on vec_id at
    * their final assignments. */
  private lazy val pqOracle: String = {
    val bodies = (0 until PqM).map { m =>
      kmeansCtesBody(s"s${m}_", s"vec_id < $PqK", KmeansIters,
        s"SELECT vec_id, embedding[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}]" +
          " AS embedding FROM embeddings")
    }.mkString(",\n")
    val codes = (0 until PqM)
      .map(m => s"CAST(s$m.cluster AS BIGINT) AS c$m").mkString(", ")
    val err = (0 until PqM).map(m => s"s$m.d").mkString(" + ")
    val joins = (1 until PqM)
      .map(m => s"JOIN s${m}_a$KmeansIters s$m USING (vec_id)")
      .mkString(" ")
    s"""WITH $bodies
       |SELECT vec_id, $codes, round($err, 6) AS recon_err
       |FROM s0_a$KmeansIters s0 $joins
       |ORDER BY vec_id""".stripMargin
  }

  /** v11 oracle: the same four prefixed chains give the corpus codes
    * (final assignments) and the codebooks (final centroids); each
    * query × codebook-entry pair computes the identical rounded
    * subspace distance, and the ADC join looks its four entries up by
    * code. */
  private lazy val pqAdcOracle: String = {
    val bodies = (0 until PqM).map { m =>
      kmeansCtesBody(s"s${m}_", s"vec_id < $PqK", KmeansIters,
        s"SELECT vec_id, embedding[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}]" +
          " AS embedding FROM embeddings")
    }.mkString(",\n")
    val codeCols = (0 until PqM)
      .map(m => s"CAST(s$m.cluster AS BIGINT) AS c$m").mkString(", ")
    val codeJoins = (1 until PqM)
      .map(m => s"JOIN s${m}_a$KmeansIters s$m USING (vec_id)")
      .mkString(" ")
    val luts = (0 until PqM).map { m =>
      s"""lut$m AS (
         | SELECT q.q_id, c.cluster,
         |  round(list_sum(list_transform(range(1, $PqSubDim + 1),
         |   i -> (CAST(q.embedding[${m * PqSubDim} + i] AS DOUBLE) - c.cvec[i]) *
         |        (CAST(q.embedding[${m * PqSubDim} + i] AS DOUBLE) - c.cvec[i]))), 6) AS d
         | FROM q, s${m}_c$KmeansIters c)""".stripMargin
    }.mkString(",\n")
    val lutJoins = (0 until PqM)
      .map(m => s"JOIN lut$m l$m ON l$m.q_id = q.q_id AND l$m.cluster = k.c$m")
      .mkString(" ")
    val adcSum = (0 until PqM).map(m => s"l$m.d").mkString(" + ")
    s"""WITH $bodies,
       |codes AS (
       | SELECT vec_id AS c_id, $codeCols
       | FROM s0_a$KmeansIters s0 $codeJoins),
       |q AS (
       | SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < 10),
       |$luts,
       |a AS (
       | SELECT q.q_id, k.c_id, $adcSum AS adc_raw
       | FROM q CROSS JOIN codes k $lutJoins
       | WHERE q.q_id <> k.c_id),
       |r AS (
       | SELECT q_id, c_id, adc_raw,
       |  row_number() OVER (PARTITION BY q_id ORDER BY adc_raw, c_id) AS rnk
       | FROM a)
       |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id,
       | round(adc_raw, 6) AS adc
       |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin
  }

  /** v12 oracle: the v9 routing CTEs (unprefixed v7 chain + recompute
    * centroids + cosine route) composed with the four prefixed PQ
    * chains; codes carry their cell from the v7 final assignment, LUT
    * entries compute from the ROUTED query rows, and the ADC join is
    * restricted to the routed cell. */
  private lazy val pqIvfOracle: String = {
    val pqBodies = (0 until PqM).map { m =>
      kmeansCtesBody(s"s${m}_", s"vec_id < $PqK", KmeansIters,
        s"SELECT vec_id, embedding[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}]" +
          " AS embedding FROM embeddings")
    }.mkString(",\n")
    val codeCols = (0 until PqM)
      .map(m => s"CAST(s$m.cluster AS BIGINT) AS c$m").mkString(", ")
    val codeJoins = (1 until PqM)
      .map(m => s"JOIN s${m}_a$KmeansIters s$m ON s$m.vec_id = av.vec_id")
      .mkString(" ")
    val luts = (0 until PqM).map { m =>
      s"""lut$m AS (
         | SELECT r.q_id, c.cluster AS code,
         |  round(list_sum(list_transform(range(1, $PqSubDim + 1),
         |   i -> (CAST(r.qv[${m * PqSubDim} + i] AS DOUBLE) - c.cvec[i]) *
         |        (CAST(r.qv[${m * PqSubDim} + i] AS DOUBLE) - c.cvec[i]))), 6) AS d
         | FROM routed r, s${m}_c$KmeansIters c)""".stripMargin
    }.mkString(",\n")
    val lutJoins = (0 until PqM)
      .map(m => s"JOIN lut$m l$m ON l$m.q_id = r.q_id AND l$m.code = k.c$m")
      .mkString(" ")
    val adcSum = (0 until PqM).map(m => s"l$m.d").mkString(" + ")
    s"""${kmeansCteChain("", s"vec_id < $KmeansK")},
       |cfd AS (
       | SELECT cluster, i - 1 AS pos,
       |  round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS cx
       | FROM a$KmeansIters, unnest(generate_series(1, len(embedding))) AS u(i)
       | GROUP BY 1, 2),
       |cf AS (
       | SELECT cluster, array_agg(cx ORDER BY pos) AS cvec,
       |  sqrt(list_sum(list_transform(array_agg(cx ORDER BY pos),
       |    x -> x * x))) AS cnorm
       | FROM cfd GROUP BY 1),
       |en AS (
       | SELECT vec_id, embedding,
       |  sqrt(list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       | FROM embeddings),
       |qq AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qn FROM en
       |  WHERE vec_id < 10),
       |route AS (
       | SELECT q_id, qv, qn, cluster,
       |  row_number() OVER (PARTITION BY q_id ORDER BY
       |    round(list_sum(list_transform(range(1, len(qv) + 1),
       |      i -> CAST(qv[i] AS DOUBLE) * cvec[i])) / (qn * cnorm), 6) DESC,
       |    cluster) AS rc
       | FROM qq CROSS JOIN cf),
       |routed AS (SELECT q_id, qv, cluster FROM route WHERE rc = 1),
       |$pqBodies,
       |codes AS (
       | SELECT av.vec_id AS c_id, av.cluster, $codeCols
       | FROM a$KmeansIters av
       |  JOIN s0_a$KmeansIters s0 ON s0.vec_id = av.vec_id $codeJoins),
       |$luts,
       |aadc AS (
       | SELECT r.q_id, k.c_id, $adcSum AS adc_raw
       | FROM routed r JOIN codes k ON k.cluster = r.cluster $lutJoins
       | WHERE r.q_id <> k.c_id),
       |rr AS (
       | SELECT q_id, c_id, adc_raw,
       |  row_number() OVER (PARTITION BY q_id ORDER BY adc_raw, c_id) AS rnk
       | FROM aadc)
       |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id,
       | round(adc_raw, 6) AS adc
       |FROM rr WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v12_ann_ivfpq" -> (pqIvfSearch _),
    "v8_cluster_prune" -> (clusterPrune _),
    "v7_kmeans" -> (kmeansClusters _),
    "v6_ann_hamming" -> (annBinaryHamming _),
    "v5_quantize_int8" -> (quantizeInt8 _),
    "v1_cosine_topk" -> (cosineTopK _),
    "v2_label_norm_stats" -> (labelNormStats _),
    "v3_ann_lsh" -> (annLsh _),
    "v4_ann_ivf" -> (annIvf _),
    "v9_ann_ivf_learned" -> (annIvfLearned _),
    "v10_pq_codes" -> (pqQuantize _),
    "v11_pq_adc" -> (pqAdcSearch _),
    "v13_prefix_rerank" -> (prefixRerank _),
    "v14_knn_graph" -> (knnGraph _),
    "v15_knn_graph_scaled" -> (knnGraphScaled _),
    "v16_range_search" -> (rangeSearch _),
    "v17_ann_index_load" -> (annIndexServe _),
    "v18_int8_rerank" -> (annInt8Rerank _),
    "v19_knn_index_load" -> (knnGraphServe _),
    "v20_knn_delta_append" -> (knnGraphDeltaAppend _),
    "v21_vector_forget" -> (vectorForget _),
    "v22_vector_ageoff" -> (vectorAgeOff _),
    "v23_vector_time_ageoff" -> (vectorTimeAgeOff _),
    "v24_vector_takedown_external" -> (vectorTakedownExternal _))

  val oracle: Map[String, String] = Map(
    "v8_cluster_prune" -> clusterPruneOracle,
    "v7_kmeans" -> kmeansOracle,
    "v6_ann_hamming" ->
      """WITH b AS (
        | SELECT vec_id,
        |  CAST(list_sum(list_transform(range(1, len(embedding) + 1),
        |    i -> CASE WHEN embedding[i] <= 0 THEN 0
        |      WHEN i = 64 THEN CAST(-9223372036854775808 AS BIGINT)
        |      ELSE (CAST(1 AS BIGINT) << (i - 1)) END)) AS BIGINT)
        |    AS code
        | FROM embeddings),
        |p AS (
        | SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |  CAST(bit_count(xor(q.code, c.code)) AS BIGINT) AS hamming
        | FROM b q, b c
        | WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |r AS (
        | SELECT q_id, c_id, hamming,
        |  row_number() OVER (PARTITION BY q_id ORDER BY hamming, c_id)
        |    AS rnk
        | FROM p)
        |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, hamming
        |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,
    "v5_quantize_int8" ->
      """WITH b AS (
        | SELECT vec_id, embedding AS e,
        |  CAST(list_min(embedding) AS DOUBLE) AS mn,
        |  CAST(list_max(embedding) AS DOUBLE) AS mx
        | FROM embeddings),
        |c AS (
        | SELECT vec_id, e, mn, mx,
        |  CASE WHEN mx > mn THEN
        |    list_transform(e, x -> CAST(round(
        |      (CAST(x AS DOUBLE) - mn) / (mx - mn) * 254.0) AS BIGINT))
        |   ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END AS codes
        | FROM b)
        |SELECT vec_id,
        | CAST(len(codes) AS BIGINT) AS n_dims,
        | CAST(list_sum(codes) AS BIGINT) AS code_sum,
        | round((mx - mn) / 254.0, 6) AS scale,
        | round(list_max(list_transform(range(1, len(codes) + 1),
        |   i -> abs(CAST(e[i] AS DOUBLE) -
        |     (mn + codes[i] * ((mx - mn) / 254.0))))), 6) AS max_abs_err
        |FROM c ORDER BY vec_id""".stripMargin,
    "v1_cosine_topk" ->
      """WITH q AS (
        | SELECT vec_id AS q_id, embedding AS qv FROM embeddings
        | WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
        |s AS (
        | SELECT q_id, c_id,
        |  list_sum(list_transform(range(1, len(qv) + 1),
        |    i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) /
        |  (sqrt(list_sum(list_transform(qv,
        |     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |   sqrt(list_sum(list_transform(cv,
        |     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos_raw
        | FROM q, c WHERE q_id <> c_id),
        |r AS (
        | SELECT q_id, c_id, cos_raw,
        |  row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos_raw DESC, c_id) AS rnk
        | FROM s)
        |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id,
        | round(cos_raw, 6) AS cos
        |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "v2_label_norm_stats" ->
      """WITH n AS (
        | SELECT label,
        |  sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        | FROM embeddings)
        |SELECT label, count(*) AS n,
        | round(avg(norm), 6) AS avg_norm,
        | round(min(norm), 6) AS min_norm,
        | round(max(norm), 6) AS max_norm
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,
    "v3_ann_lsh" -> annLshOracle,
    "v4_ann_ivf" -> annIvfOracle,
    "v9_ann_ivf_learned" -> annIvfLearnedOracle,
    "v10_pq_codes" -> pqOracle,
    "v11_pq_adc" -> pqAdcOracle,
    "v12_ann_ivfpq" -> pqIvfOracle,
    // serving from the written artifact must equal the in-session
    // index exactly — same oracle
    "v17_ann_index_load" -> pqIvfOracle,
    "v18_int8_rerank" -> annInt8Oracle,
    "v13_prefix_rerank" -> prefixRerankOracle,
    "v14_knn_graph" -> knnGraphOracle,
    "v15_knn_graph_scaled" -> knnGraphScaledOracle,
    // serving from the written cell index must be bit-equal to the
    // in-session v15 build — one oracle serves both
    "v19_knn_index_load" -> knnGraphScaledOracle,
    // the delta-append graph: the oracle's Lloyd chain runs over the
    // BASE tranche only, a separate final probe assigns ALL vectors —
    // a hash match proves no relearn happened on the delta
    "v20_knn_delta_append" -> knnDeltaOracle,
    "v21_vector_forget" -> v21ForgetOracle,
    "v24_vector_takedown_external" -> v24TakedownOracle,
    "v22_vector_ageoff" -> v22AgeOffOracle,
    "v23_vector_time_ageoff" -> v23TimeAgeOffOracle,
    "v16_range_search" -> rangeSearchOracle)

  /** v21's oracle: the v15 chain with the forgotten slice filtered
    * out AFTER the (full-corpus, frozen) learned assignment — cell
    * sizes, sub-splits, pairs and ranks all computed over survivors,
    * the engine's exact dataflow. */
  private lazy val v21ForgetOracle: String =
    s"""${DedupOps.nearDupPairsCtesWhere(s"vec_id % $V21ForgetMod <> 0")},
       |d AS (
       | SELECT vec_a AS src, vec_b AS dst, cos FROM p
       | UNION ALL
       | SELECT vec_b AS src, vec_a AS dst, cos FROM p),
       |rr AS (
       | SELECT src, dst, cos,
       |  row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
       | FROM d)
       |SELECT src, dst, cos, CAST(rnk AS BIGINT) AS rnk
       |FROM rr WHERE rnk <= 3 ORDER BY src, rnk""".stripMargin

  /** v24's oracle: v21's shape with the survivor predicate the
    * external list's complement (vec_id % 7 <> 0 — the absent and
    * repeated ids are invisible by construction), applied AFTER the
    * frozen full-corpus assignment. */
  private lazy val v24TakedownOracle: String =
    s"""${DedupOps.nearDupPairsCtesWhere("vec_id % 7 <> 0")},
       |d AS (
       | SELECT vec_a AS src, vec_b AS dst, cos FROM p
       | UNION ALL
       | SELECT vec_b AS src, vec_a AS dst, cos FROM p),
       |rr AS (
       | SELECT src, dst, cos,
       |  row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
       | FROM d)
       |SELECT src, dst, cos, CAST(rnk AS BIGINT) AS rnk
       |FROM rr WHERE rnk <= 3 ORDER BY src, rnk""".stripMargin

  /** v23's oracle: v22's shape with the survivor predicate the
    * derived-time threshold (the t41 md5 idiom — bit-identical on
    * both sides), applied AFTER the frozen assignment. */
  private lazy val v23TimeAgeOffOracle: String =
    s"""${DedupOps.nearDupPairsCtesWhere(
        "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT > " +
          DedupOps.T41H2)},
       |d AS (
       | SELECT vec_a AS src, vec_b AS dst, cos FROM p
       | UNION ALL
       | SELECT vec_b AS src, vec_a AS dst, cos FROM p),
       |rr AS (
       | SELECT src, dst, cos,
       |  row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
       | FROM d)
       |SELECT src, dst, cos, CAST(rnk AS BIGINT) AS rnk
       |FROM rr WHERE rnk <= 3 ORDER BY src, rnk""".stripMargin

  /** v22's oracle: v21's shape with the survivor predicate a horizon
    * threshold over the id span (scalar subquery — DuckDB evaluates
    * it once; integer // matches the engine's Long arithmetic). */
  private lazy val v22AgeOffOracle: String =
    s"""${DedupOps.nearDupPairsCtesWhere(
        "vec_id > (SELECT min(vec_id) + (max(vec_id) - min(vec_id)) * 2 // 5 FROM embeddings)")},
       |d AS (
       | SELECT vec_a AS src, vec_b AS dst, cos FROM p
       | UNION ALL
       | SELECT vec_b AS src, vec_a AS dst, cos FROM p),
       |rr AS (
       | SELECT src, dst, cos,
       |  row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
       | FROM d)
       |SELECT src, dst, cos, CAST(rnk AS BIGINT) AS rnk
       |FROM rr WHERE rnk <= 3 ORDER BY src, rnk""".stripMargin

  private lazy val knnDeltaOracle: String =
    s"""${DedupOps.nearDupDeltaPairsCtes},
       |d AS (
       | SELECT vec_a AS src, vec_b AS dst, cos FROM p
       | UNION ALL
       | SELECT vec_b AS src, vec_a AS dst, cos FROM p),
       |rr AS (
       | SELECT src, dst, cos,
       |  row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
       | FROM d)
       |SELECT src, dst, cos, CAST(rnk AS BIGINT) AS rnk
       |FROM rr WHERE rnk <= 3 ORDER BY src, rnk""".stripMargin
}
