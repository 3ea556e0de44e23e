package graft.queries

import java.nio.file.Files

import graft.SparkSpec

/** The v17 build/serve split: the IVF-PQ index persists as a parquet
  * artifact (cells + routing centroids + PQ codebooks), the serve path
  * reads ONLY the artifact (no Lloyd iteration, no in-session memo),
  * and serving from disk is bit-equal to v12's in-session index — the
  * build-once / serve-many contract a deployment relies on.
  */
class AnnIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("v17 artifact holds all three relations and serve equals v12 exactly") {
    val served = VectorOps.annIndexServe(spark, dir).collect()
    val idx = VectorOps.annIndexPath(spark, dir)
    // the artifact is complete on disk
    Seq("cells", "centroids", "codebooks", "_INDEX_READY").foreach(p =>
      assert(Files.exists(idx.resolve(p)), s"missing artifact piece $p"))
    // cells carry every corpus vector at 4 codes each
    val cells = spark.read.parquet(idx.resolve("cells").toString)
    assert(cells.columns.sorted.toSeq ===
      Seq("c0", "c1", "c2", "c3", "c_id", "cluster"))
    assert(cells.count() ===
      spark.read.parquet(s"$dir/embeddings.parquet").count())
    // serving from the written artifact = the in-session index (v12)
    val v12 = VectorOps.pqIvfSearch(spark, dir).collect()
    assert(served.map(_.toSeq.toVector).toSeq ===
      v12.map(_.toSeq.toVector).toSeq)
  }

  test("v19 cell-index serve equals the in-session v15 graph exactly") {
    val served = VectorOps.knnGraphServe(spark, dir).collect()
    val idx = DedupOps.nearDupIndexPath(spark, dir)
    Seq("assign", "_INDEX_READY").foreach(p =>
      assert(Files.exists(idx.resolve(p)), s"missing artifact piece $p"))
    // the inverted file lists each vector under its NearDupProbes cells
    val assign = spark.read.parquet(idx.resolve("assign").toString)
    assert(assign.columns.sorted.toSeq ===
      Seq("cluster", "embedding", "vec_id"))
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(assign.count() === n * DedupOps.NearDupProbes)
    // serving from the written artifact = the in-session cascade (v15)
    val v15 = VectorOps.knnGraphScaled(spark, dir).collect()
    assert(served.map(_.toSeq.toVector).toSeq ===
      v15.map(_.toSeq.toVector).toSeq)
  }

  test("v19 build is idempotent: a second serve reuses the artifact unmodified") {
    VectorOps.knnGraphServe(spark, dir).collect()
    val marker = DedupOps.nearDupIndexPath(spark, dir).resolve("_INDEX_READY")
    val nonce0 = new String(Files.readAllBytes(marker), "UTF-8")
    assert(nonce0.nonEmpty, "the marker must carry a build nonce")
    val again = VectorOps.knnGraphServe(spark, dir).collect()
    assert(new String(Files.readAllBytes(marker), "UTF-8") === nonce0,
      "the artifact must not rebuild when the input is unchanged")
    assert(again.nonEmpty)
  }

  test("t33 label-index serve equals the in-query t13 clusters exactly") {
    val served = DedupOps.ccClustersServe(spark, dir).collect()
    val idx = DedupOps.ccIndexPath(spark, dir)
    Seq("labels", "_INDEX_READY").foreach(p =>
      assert(Files.exists(idx.resolve(p)), s"missing artifact piece $p"))
    // the artifact is the converged (node, label) relation: one row per
    // clustered doc, every label a member of its own cluster (a root)
    val labels = spark.read.parquet(idx.resolve("labels").toString)
    assert(labels.columns.sorted.toSeq === Seq("label", "node"))
    val labelSet = labels.select("label").distinct()
      .collect().map(_.getLong(0)).toSet
    val nodeSet = labels.select("node").collect().map(_.getLong(0)).toSet
    assert(labelSet.subsetOf(nodeSet), "a cluster label must be a member node")
    // serving from the written artifact = the in-query propagation (t13)
    val t13 = DedupOps.nearDupClusters(spark, dir).collect()
    assert(served.map(_.toSeq.toVector).toSeq ===
      t13.map(_.toSeq.toVector).toSeq)
    assert(served.nonEmpty)
  }

  test("t34 probe flags a delta duplicate against the persisted base bucket") {
    // crafted corpus (the s11 idiom): base doc 1 and delta doc 100 are
    // identical, so every bucket doc 100 probes was persisted in the
    // base index with canon 1 — the flag can only carry dup_of = 1 if
    // the probe hit the ARTIFACT's buckets. Delta doc 101 is unique
    // and must stay unflagged; base docs (1, 2) are never flagged.
    // cut = (1 + 101) / 2 = 51.
    val tmp = java.nio.file.Files.createTempDirectory("t34_spec_").toString
    import spark.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "planets orbit the bright distant star"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = DedupOps.incrementalDedup(spark, tmp).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(100L),
      s"exactly the cross-tranche duplicate must flag: ${out.toSeq}")
    assert(out.head.getAs[Long]("dup_of") === 1L,
      "dup_of must be the BASE canonical from the persisted bucket")
    // artifact completeness + nonce idempotency (the v17 contract)
    val idx = BucketShelf.path(spark, tmp, BucketShelf.t34)
    Seq("buckets", "_CUT", "_INDEX_READY").foreach(pc =>
      assert(Files.exists(idx.resolve(pc)), s"missing artifact piece $pc"))
    assert(new String(Files.readAllBytes(idx.resolve("_CUT")), "UTF-8")
      .trim.toLong === 51L)
    val nonce0 =
      new String(Files.readAllBytes(idx.resolve("_INDEX_READY")), "UTF-8")
    assert(nonce0.nonEmpty, "the marker must carry a build nonce")
    DedupOps.incrementalDedup(spark, tmp).collect()
    assert(new String(
      Files.readAllBytes(idx.resolve("_INDEX_READY")), "UTF-8") === nonce0,
      "the artifact must not rebuild when the input is unchanged")
  }

  test("v20 delta append assigns against BASE-learned cells only — no relearn") {
    val (assigned, cut) = DedupOps.nearDupSplitAssign(spark, dir)
    val rows = assigned.select("cluster", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // cluster ids are seed vec_ids: every one must come from the BASE
    // tranche — a cluster id above the cut would witness centroids
    // (re)learned on the delta, the thing v20 exists to avoid
    assert(rows.map(_._1).forall(_ <= cut),
      "a cluster id above the cut — the delta leaked into cell learning")
    // completeness: every vector (base AND delta) lands in the merged
    // assignment with exactly NearDupProbes probe rows
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(rows.length.toLong === n * DedupOps.NearDupProbes)
    assert(rows.map(_._2).distinct.length.toLong === n)
    assert(rows.exists(_._2 > cut), "the delta tranche must be present")
    // the graph over the merged assignment covers delta sources too
    val graph = VectorOps.knnGraphDeltaAppend(spark, dir).collect()
    assert(graph.exists(_.getAs[Long]("src") > cut),
      "delta vectors must appear as graph sources")
  }

  test("m8 probe flags a delta medium against the persisted base hash bucket") {
    // identical text ⇒ identical synthesized payload ⇒ identical
    // perceptual hash: base doc 1 and delta doc 100 share a payload,
    // so doc 100's flag can only carry dup_of = 1 if the probe hit
    // the ARTIFACT's bucket; unique delta doc 101 stays unflagged
    val tmp = java.nio.file.Files.createTempDirectory("m8_spec_").toString
    import spark.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "planets orbit the bright distant star"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = MultimodalOps.mediaIndexProbe(spark, tmp).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(100L),
      s"exactly the cross-tranche duplicate must flag: ${out.toSeq}")
    assert(out.head.getAs[Long]("dup_of") === 1L)
    val idx = BucketShelf.path(spark, tmp, BucketShelf.m8)
    Seq("buckets", "_CUT", "_INDEX_READY").foreach(pc =>
      assert(Files.exists(idx.resolve(pc)), s"missing artifact piece $pc"))
    val nonce0 =
      new String(Files.readAllBytes(idx.resolve("_INDEX_READY")), "UTF-8")
    assert(nonce0.nonEmpty)
    MultimodalOps.mediaIndexProbe(spark, tmp).collect()
    assert(new String(
      Files.readAllBytes(idx.resolve("_INDEX_READY")), "UTF-8") === nonce0,
      "the artifact must not rebuild when the input is unchanged")
  }

  test("t33 build is idempotent: a second serve reuses the artifact unmodified") {
    DedupOps.ccClustersServe(spark, dir).collect()
    val marker = DedupOps.ccIndexPath(spark, dir).resolve("_INDEX_READY")
    val nonce0 = new String(Files.readAllBytes(marker), "UTF-8")
    assert(nonce0.nonEmpty, "the marker must carry a build nonce")
    val again = DedupOps.ccClustersServe(spark, dir).collect()
    assert(new String(Files.readAllBytes(marker), "UTF-8") === nonce0,
      "the artifact must not rebuild when the input is unchanged")
    assert(again.nonEmpty)
  }

  test("v17 build is idempotent: a second serve reuses the artifact unmodified") {
    VectorOps.annIndexServe(spark, dir).collect()
    val marker = VectorOps.annIndexPath(spark, dir).resolve("_INDEX_READY")
    // the marker carries a per-build nonce: content equality detects an
    // accidental rebuild even on filesystems with coarse (1 s) mtimes,
    // where a same-second rebuild would falsely pass an mtime compare
    val nonce0 = new String(Files.readAllBytes(marker), "UTF-8")
    assert(nonce0.nonEmpty, "the marker must carry a build nonce")
    val again = VectorOps.annIndexServe(spark, dir).collect()
    assert(new String(Files.readAllBytes(marker), "UTF-8") === nonce0,
      "the artifact must not rebuild when the input is unchanged")
    assert(again.nonEmpty)
  }
}
