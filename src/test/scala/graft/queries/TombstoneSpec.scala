package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** t37 deletion contract: canon = min is not invertible, so the
  * deletable index persists MEMBERSHIP and a takedown is an
  * O(deleted) tombstone write — re-election is the serve path's
  * existing min fold over the surviving members. Pins: (1) a taken-
  * down canon re-elects the next-min twin and a probe resolves to it;
  * (2) deletion ≡ the rebuild over corpus-minus-deleted (the gate's
  * oracle, asserted here on a crafted corpus where the re-election is
  * hand-checkable); (3) tombstone compaction folds the deletions into
  * the membership files byte-identically and drops the delete-*
  * generation; (4) the whole family is idempotent across serves.
  */
class TombstoneSpec extends SparkSpec {

  /** Crafted corpus: bucket A {1, 100} — the takedown kills canon 1
    * and 100 must be re-elected; bucket B {2} — singleton, untouched;
    * C {150} — singleton. The deterministic takedown set is exactly
    * {1} (the only multi-member bucket's canon). */
  private def craft(): String = {
    val tmp = Files.createTempDirectory("t37_spec_").toString
    import spark.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (100L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (150L, "planets orbit the bright distant star"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("t37 takedown of a canon re-elects the next-min twin; a probe resolves to it") {
    val dir = craft()
    val served = DedupOps.tombstoneReelect(spark, dir).collect()
    val canons = served.map(_.getAs[Long]("canon")).distinct.sorted
    // doc 1 is GONE from the index: every A-bucket re-elected 100
    assert(canons.toSeq === Seq(2L, 100L, 150L), canons.toSeq)
    // a probe for doc 1's text must resolve to the re-elected canon,
    // never the ghost
    import spark.implicits._
    val probe = Seq((999L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val hits = DedupOps.bandedSignaturesOf(probe)
      .select(col("doc_id"), col("band"), col("sig"))
      .join(MemberShelf.served(spark, dir, MemberShelf.t37), Seq("band", "sig"))
      .groupBy(col("doc_id")).agg(min(col("canon")).as("dup_of"))
      .collect()
    assert(hits.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_of")))
      .toSeq === Seq((999L, 100L)))
    // deletion ≡ rebuild over corpus-minus-deleted, bit for bit
    val rebuild = DedupOps.bandedSignaturesOf(
        spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") =!= 1L))
      .groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("canon"))
      .orderBy(col("band"), col("sig"))
      .collect().map(_.toSeq.toVector).toSeq
    assert(DedupOps.tombstoneReelect(spark, dir)
      .collect().map(_.toSeq.toVector).toSeq === rebuild)
    // the tombstone generation is on disk; the members are NOT
    // rewritten at takedown time (that is compaction's job)
    val idx = MemberShelf.path(spark, dir, MemberShelf.t37)
    assert(idx.resolve("tombstones").toFile.listFiles()
      .exists(_.getName.startsWith("delete-000-")))
    assert(idx.resolve("members").toFile.listFiles()
      .exists(_.getName.startsWith("part-")))
  }

  test("t37 compaction folds the tombstones in byte-identically and drops them") {
    val dir = craft()
    val before = DedupOps.tombstoneReelect(spark, dir)
      .collect().map(_.toSeq.toVector).toSeq
    val idx = MemberShelf.path(spark, dir, MemberShelf.t37)
    assert(DedupOps.compactTombstoneIndex(spark, idx),
      "an index holding tombstones must compact")
    val after = DedupOps.tombstoneReelect(spark, dir)
      .collect().map(_.toSeq.toVector).toSeq
    assert(after === before, "compaction must be invisible in the serve")
    // the delete-* generation is gone and the members are one fresh
    // compacted generation — the serve plans NO anti-join now
    assert(!idx.resolve("tombstones").toFile.listFiles()
      .exists(_.getName.endsWith(".parquet")))
    val memberFiles = idx.resolve("members").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(memberFiles.forall(_.startsWith("compact-")), memberFiles.toSeq)
    val plan = MemberShelf.served(spark, dir, MemberShelf.t37)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("LeftAnti"),
      s"the compacted serve must be a plain scan-and-fold:\n$plan")
    // a second compaction is a structural no-op
    assert(!DedupOps.compactTombstoneIndex(spark, idx))
  }

  test("t37 serve is artifact-only: the corpus never rejoins the plan") {
    val dir = craft()
    DedupOps.tombstoneReelect(spark, dir).collect()
    val plan = MemberShelf.served(spark, dir, MemberShelf.t37)
      .queryExecution.executedPlan.toString
    assert(plan.contains("band_members_t37"),
      "serve must read the persisted membership artifact")
    assert(!plan.contains("documents.parquet"),
      s"serve must never re-scan the corpus:\n$plan")
  }

  test("m11 takedown re-elects on the media shelf via the shared machinery") {
    val dir = craft()
    // identical text ⇒ identical synthesized payload ⇒ identical
    // ahash: bucket {1, 100}'s canon 1 is taken down, 100 re-elects
    val served = MultimodalOps.mediaTombstoneReelect(spark, dir)
      .collect().map(_.toSeq.toVector).toSeq
    val canons = served.map(_(1).asInstanceOf[Long])
    assert(!canons.contains(1L), "the taken-down canon must be gone")
    assert(canons.contains(100L), "the next-min twin must be re-elected")
    // deletion ≡ re-hashing the corpus without the deleted doc
    val rebuild = MultimodalOps.mediaAhashOf(
        MultimodalOps.mediaTable(spark, dir)
          .filter(col("doc_id") =!= 1L)
          .select(col("doc_id"), col("payload")))
      .groupBy(col("ahash"))
      .agg(min(col("doc_id")).as("canon"))
      .orderBy(col("ahash"))
      .collect().map(_.toSeq.toVector).toSeq
    assert(served === rebuild)
    // compaction folds the tombstones in; the serve plans no anti-join
    val idx = MemberShelf.path(spark, dir, MemberShelf.m11)
    assert(DedupOps.compactTombstoneIndex(spark, idx))
    val after = MultimodalOps.mediaTombstoneReelect(spark, dir)
      .collect().map(_.toSeq.toVector).toSeq
    assert(after === served)
    assert(!MemberShelf.served(spark, dir, MemberShelf.m11)
      .queryExecution.executedPlan.toString.contains("LeftAnti"))
  }

  test("v21 forget re-ranks survivors and never serves a forgotten vector") {
    val dir = "/root/testdata/sf0.001"
    // the artifact is fingerprint-keyed and persists across test
    // runs; a prior run's compaction would have folded the tombstones
    // this test pins — start from a fresh lifecycle
    DedupOps.deleteRecursively(
      MemberShelf.path(spark, dir, MemberShelf.v21).toFile)
    val served = VectorOps.vectorForget(spark, dir).collect()
    // no forgotten vec appears on either side of the graph
    assert(served.forall(r => r.getAs[Long]("src") % 13L != 0 &&
      r.getAs[Long]("dst") % 13L != 0))
    // serve ≡ the graph over the surviving members of the SAME frozen
    // assignment (cells never relearn on a forget)
    val idx = DedupOps.buildNearDupIndex(spark, dir)
    val expected = VectorOps.knnDirectedTop3(DedupOps.cellBlockedPairs(
        spark.read.parquet(s"$idx/assign")
          .filter(col("vec_id") % 13L =!= 0),
        DedupOps.NearDupCellCap))
      .collect().map(_.toSeq.toVector).toSeq
    assert(served.map(_.toSeq.toVector).toSeq === expected)
    // re-election here is RE-RANKING: at least one survivor whose
    // top-1 neighbor was forgotten must pull up its next-best
    val v19 = VectorOps.knnGraphServe(spark, dir).collect()
    val before = v19.filter(_.getAs[Long]("rnk") == 1L)
      .map(r => r.getAs[Long]("src") -> r.getAs[Long]("dst")).toMap
    val afterTop = served.filter(_.getAs[Long]("rnk") == 1L)
      .map(r => r.getAs[Long]("src") -> r.getAs[Long]("dst")).toMap
    val reranked = afterTop.exists { case (src, dst) =>
      before.get(src).exists(d0 => d0 % 13L == 0 && d0 != dst)
    }
    assert(reranked,
      "some survivor must have lost its rank-1 neighbor and re-ranked")
    // compaction folds the tombstones in, serve unchanged, no anti-join
    val out = MemberShelf.path(spark, dir, MemberShelf.v21)
    assert(DedupOps.compactTombstoneIndex(spark, out, idCol = "vec_id"))
    val after = VectorOps.vectorForget(spark, dir)
    assert(after.collect().map(_.toSeq.toVector).toSeq === expected)
    assert(!after.queryExecution.executedPlan.toString.contains("LeftAnti"))
  }

  test("t38 age-off: per-horizon generations, idempotent advance, compaction folds them all") {
    // ids 0..100 → horizons h1 = 20, h2 = 40 (lo + span/5, lo +
    // 2·span/5). "X" {10, 50}: canon 10 expires at h1 → re-elect 50;
    // "Y" {30, 70}: canon 30 expires at h2 → re-elect 70; 0 expires
    // outright; 100 survives as a singleton.
    val tmp = Files.createTempDirectory("t38_spec_").toString
    import spark.implicits._
    Seq(
      (0L, "winter rivers freeze under pale skies"),
      (10L, "alpha beta gamma delta epsilon zeta"),
      (50L, "alpha beta gamma delta epsilon zeta"),
      (30L, "one two three four five six"),
      (70L, "one two three four five six"),
      (100L, "planets orbit the bright distant star"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val served = DedupOps.indexAgeOff(spark, tmp).collect()
    val canons = served.map(_.getAs[Long]("canon")).distinct.sorted
    assert(canons.toSeq === Seq(50L, 70L, 100L), canons.toSeq)
    // TWO age-off generations on disk, one per horizon
    val idx = MemberShelf.path(spark, tmp, MemberShelf.t38)
    val tombNames = idx.resolve("tombstones").toFile.listFiles()
      .map(_.getName).sorted.toSeq
    assert(tombNames.exists(_.startsWith("delete-h20-")) &&
      tombNames.exists(_.startsWith("delete-h40-")), tombNames)
    // horizon advance is idempotent PER HORIZON: re-running an applied
    // cutoff short-circuits on its own marker (files + nonce untouched)
    val nonce0 = new String(Files.readAllBytes(
      idx.resolve("_INDEX_READY")), "UTF-8")
    DedupOps.ageOffMembers(spark, idx, 20L)
    assert(idx.resolve("tombstones").toFile.listFiles()
      .map(_.getName).sorted.toSeq === tombNames)
    assert(new String(Files.readAllBytes(
      idx.resolve("_INDEX_READY")), "UTF-8") === nonce0)
    // age-off ≡ rebuild over corpus-minus-expired, bit for bit
    val rebuild = DedupOps.bandedSignaturesOf(
        spark.read.parquet(s"$tmp/documents.parquet")
          .filter(col("doc_id") > 40L))
      .groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("canon"))
      .orderBy(col("band"), col("sig"))
      .collect().map(_.toSeq.toVector).toSeq
    assert(served.map(_.toSeq.toVector).toSeq === rebuild)
    // ONE compaction folds BOTH horizon generations into the base
    assert(DedupOps.compactTombstoneIndex(spark, idx))
    assert(DedupOps.indexAgeOff(spark, tmp)
      .collect().map(_.toSeq.toVector).toSeq === rebuild)
    assert(!idx.resolve("tombstones").toFile.listFiles()
      .exists(_.getName.endsWith(".parquet")))
    // a LATER horizon starts a fresh generation against the compacted
    // membership: the retention loop keeps advancing forever
    DedupOps.ageOffMembers(spark, idx, 60L)
    assert(idx.resolve("tombstones").toFile.listFiles()
      .exists(_.getName.startsWith("delete-h60-")))
    val aged = DedupOps.aliveMembers(spark, idx)
      .groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("canon"))
      .collect().map(_.getAs[Long]("canon")).distinct.sorted
    assert(aged.toSeq === Seq(70L, 100L), aged.toSeq)
  }

  test("t41 event-time age-off expires a NON-CONTIGUOUS id set the id-span predicate cannot express") {
    val dir = "/root/testdata/sf0.001"
    val served = DedupOps.indexTimeAgeOff(spark, dir).collect()
      .map(_.toSeq.toVector).toSeq
    // the oracle semantics, derived independently: survivors are docs
    // whose md5-derived ingest time exceeds the second constant horizon
    val d = Tables(spark, dir, "documents")
      .withColumn("its", expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) " +
          "AS BIGINT)"))
    val surviving = d.filter(col("its") > DedupOps.T41H2)
      .select(col("doc_id"), col("text"))
    val rebuild = DedupOps.bandedSignaturesOf(surviving)
      .groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("canon"))
      .orderBy(col("band"), col("sig"))
      .collect().map(_.toSeq.toVector).toSeq
    assert(served === rebuild)
    // the expired set must INTERLEAVE with the survivors in id space —
    // the property that proves this is event-time, not an id span:
    // some expired id exceeds some surviving id
    val ids = d.select(col("doc_id"), (col("its") > DedupOps.T41H2)
      .as("alive")).collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val maxExpired = ids.collect { case (i, false) => i }.max
    val minAlive = ids.collect { case (i, true) => i }.min
    assert(maxExpired > minAlive,
      s"hash-time must interleave ids: maxExpired=$maxExpired " +
        s"minAlive=$minAlive")
    // per-horizon generations + timestamp column persisted in members
    val idx = MemberShelf.path(spark, dir, MemberShelf.t41)
    val tombNames = idx.resolve("tombstones").toFile.listFiles()
      .map(_.getName).sorted.toSeq
    assert(tombNames.exists(_.startsWith(s"delete-h${DedupOps.T41H1}-")) &&
      tombNames.exists(_.startsWith(s"delete-h${DedupOps.T41H2}-")),
      tombNames)
    assert(spark.read.parquet(idx.resolve("members").toString)
      .columns.contains("ingest_ts"),
      "the event time must ride IN the members relation")
    // idempotent per horizon, like t38
    DedupOps.ageOffMembers(spark, idx, DedupOps.T41H2, tsCol = "ingest_ts")
    assert(idx.resolve("tombstones").toFile.listFiles()
      .map(_.getName).sorted.toSeq === tombNames)
  }

  test("m13/v23: the event-time verb is shelf-agnostic — ts rides in members, per-horizon generations, idempotent") {
    val dir = "/root/testdata/sf0.001"
    MultimodalOps.mediaTimeAgeOff(spark, dir).collect()
    val m = MemberShelf.path(spark, dir, MemberShelf.m13)
    assert(spark.read.parquet(m.resolve("members").toString)
      .columns.contains("ingest_ts"),
      "the capture time must ride IN the media members relation")
    val tn = m.resolve("tombstones").toFile.listFiles()
      .map(_.getName).sorted.toSeq
    assert(tn.exists(_.startsWith(s"delete-h${DedupOps.T41H1}-")) &&
      tn.exists(_.startsWith(s"delete-h${DedupOps.T41H2}-")), tn)
    DedupOps.ageOffMembers(spark, m, DedupOps.T41H2, tsCol = "ingest_ts")
    assert(m.resolve("tombstones").toFile.listFiles()
      .map(_.getName).sorted.toSeq === tn,
      "a lagging horizon must no-op on the media shelf too")
    VectorOps.vectorTimeAgeOff(spark, dir).collect()
    val v = MemberShelf.path(spark, dir, MemberShelf.v23)
    assert(spark.read.parquet(v.resolve("members").toString)
      .columns.contains("ingest_ts"))
    val vn = v.resolve("tombstones").toFile.listFiles()
      .map(_.getName).sorted.toSeq
    assert(vn.exists(_.startsWith(s"delete-h${DedupOps.T41H2}-")), vn)
  }

  test("t38 crash inside an age-off window degrades to rebuild and re-derives deterministically") {
    val tmp = Files.createTempDirectory("t38_crash_spec_").toString
    import spark.implicits._
    Seq(
      (0L, "winter rivers freeze under pale skies"),
      (10L, "alpha beta gamma delta epsilon zeta"),
      (50L, "alpha beta gamma delta epsilon zeta"),
      (30L, "one two three four five six"),
      (70L, "one two three four five six"),
      (100L, "planets orbit the bright distant star"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val first = DedupOps.indexAgeOff(spark, tmp)
      .collect().map(_.toSeq.toVector).toSeq
    // crash window: the nonce vanished mid-mutation — the artifact
    // (members, BOTH horizon tombstone generations, _HORIZONS, the
    // per-horizon markers) must rebuild and re-derive to the same
    // served relation, because every input to the policy (the corpus,
    // the horizon arithmetic) is deterministic
    val idx = MemberShelf.path(spark, tmp, MemberShelf.t38)
    Files.delete(idx.resolve("_INDEX_READY"))
    val recovered = DedupOps.indexAgeOff(spark, tmp)
      .collect().map(_.toSeq.toVector).toSeq
    assert(recovered === first)
    assert(Files.size(idx.resolve("_INDEX_READY")) > 0,
      "recovery must re-stamp a fresh nonce")
    assert(Files.exists(idx.resolve("_HORIZONS")),
      "the rebuild must re-stage the policy horizons")
    assert(idx.resolve("tombstones").toFile.listFiles()
      .exists(_.getName.startsWith("delete-h20-")) &&
      idx.resolve("tombstones").toFile.listFiles()
        .exists(_.getName.startsWith("delete-h40-")),
      "the rebuild must re-apply BOTH horizon generations")
  }

  test("m12 age-off on the media shelf runs through the IDENTICAL shared mechanics") {
    // t38's crafted corpus: identical text ⇒ identical synthesized
    // payload ⇒ identical ahash, so the same horizon arithmetic
    // (h1 = 20, h2 = 40 over ids 0..100) must re-elect 50 and 70 and
    // expire 0/10/30 from the hash buckets
    val tmp = Files.createTempDirectory("m12_spec_").toString
    import spark.implicits._
    Seq(
      (0L, "winter rivers freeze under pale skies"),
      (10L, "alpha beta gamma delta epsilon zeta"),
      (50L, "alpha beta gamma delta epsilon zeta"),
      (30L, "one two three four five six"),
      (70L, "one two three four five six"),
      (100L, "planets orbit the bright distant star"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val served = MultimodalOps.mediaAgeOff(spark, tmp).collect()
    val canons = served.map(_.getAs[Long]("canon")).distinct.sorted
    assert(canons.toSeq === Seq(50L, 70L, 100L), canons.toSeq)
    // age-off ≡ re-hashing only the surviving media
    val rebuild = MultimodalOps.mediaAhashOf(
        MultimodalOps.mediaTable(spark, tmp)
          .filter(col("doc_id") > 40L)
          .select(col("doc_id"), col("payload")))
      .groupBy(col("ahash"))
      .agg(min(col("doc_id")).as("canon"))
      .orderBy(col("ahash"))
      .collect().map(_.toSeq.toVector).toSeq
    assert(served.map(_.toSeq.toVector).toSeq === rebuild)
    // two horizon generations; ONE compaction folds both (the shared
    // compactTombstoneIndex, no media-specific deletion code)
    val idx = MemberShelf.path(spark, tmp, MemberShelf.m12)
    val tombNames = idx.resolve("tombstones").toFile.listFiles()
      .map(_.getName).sorted.toSeq
    assert(tombNames.exists(_.startsWith("delete-h20-")) &&
      tombNames.exists(_.startsWith("delete-h40-")), tombNames)
    assert(DedupOps.compactTombstoneIndex(spark, idx))
    assert(MultimodalOps.mediaAgeOff(spark, tmp)
      .collect().map(_.toSeq.toVector).toSeq === rebuild)
    assert(!MultimodalOps.mediaAgeOff(spark, tmp)
      .queryExecution.executedPlan.toString.contains("LeftAnti"))
  }

  test("t39 external takedown list: absent ids no-op, repeated ids are idempotent") {
    // multiples of 7 in range: {7, 14}. "X" {7, 9}: canon 7 erased →
    // re-elect 9; "Y" {14}: the whole bucket vanishes; "Z" {10, 20}:
    // untouched.
    val tmp = Files.createTempDirectory("t39_spec_").toString
    import spark.implicits._
    Seq(
      (7L, "alpha beta gamma delta epsilon zeta"),
      (9L, "alpha beta gamma delta epsilon zeta"),
      (14L, "one two three four five six"),
      (10L, "planets orbit the bright distant star"),
      (20L, "planets orbit the bright distant star"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // the staged input relation really carries the two edge cases: an
    // id ABSENT from the index (hi + 1000) and a REPEATED id
    val ext = DedupOps.stageErasures(spark, tmp, "documents", "doc_id")
    val ids = spark.read.parquet(ext.resolve("erasures").toString)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(ids === Seq(7L, 7L, 14L, 1020L), ids)
    val served = DedupOps.takedownExternal(spark, tmp).collect()
    val canons = served.map(_.getAs[Long]("canon")).distinct.sorted
    assert(canons.toSeq === Seq(9L, 10L), canons.toSeq)
    // ≡ rebuild over the PRESENT listed docs removed (1020 no-ops)
    val rebuild = DedupOps.bandedSignaturesOf(
        spark.read.parquet(s"$tmp/documents.parquet")
          .filter(col("doc_id") % 7L =!= 0L))
      .groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("canon"))
      .orderBy(col("band"), col("sig"))
      .collect().map(_.toSeq.toVector).toSeq
    assert(served.map(_.toSeq.toVector).toSeq === rebuild)
    // a re-submitted list short-circuits on the marker
    val idx = MemberShelf.path(spark, tmp, MemberShelf.t39)
    val nonce0 = new String(Files.readAllBytes(
      idx.resolve("_INDEX_READY")), "UTF-8")
    val again = DedupOps.takedownExternal(spark, tmp)
      .collect().map(_.toSeq.toVector).toSeq
    assert(again === rebuild)
    assert(new String(Files.readAllBytes(
      idx.resolve("_INDEX_READY")), "UTF-8") === nonce0)
  }

  test("m14/v24: the external list fans out to the media and vector shelves through the same shared mechanics") {
    // one erasure request names DOCUMENTS; every shelf holding the
    // doc's derived state honors it through applyTakedown. The media
    // serve must equal the re-hash over surviving docs; the vector
    // serve must equal the re-ranked graph over surviving members —
    // both with the frozen-learned-state rule (no re-hash of
    // survivors, no relearned cells).
    val sf = "/root/testdata/sf0.001"
    val m = MultimodalOps.mediaTakedownExternal(spark, sf)
      .collect().map(_.toSeq.toVector).toSeq
    val mRebuild = MultimodalOps.mediaAhashOf(
        MultimodalOps.mediaTable(spark, sf)
          .select(col("doc_id"), col("payload"))
          .filter(col("doc_id") % 7L =!= 0L))
      .groupBy(col("ahash")).agg(min(col("doc_id")).as("canon"))
      .orderBy(col("ahash"))
      .collect().map(_.toSeq.toVector).toSeq
    assert(m === mRebuild)
    // the staged vector list carries the t39 edges (absent + repeat)
    val ext = DedupOps.stageErasures(spark, sf, "embeddings", "vec_id")
    val ids = spark.read.parquet(ext.resolve("erasures").toString)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(ids.count(_ == ids.min) === 2, s"repeated id missing: $ids")
    assert(ids.max > ids.sorted.dropRight(1).last + 900,
      s"absent id missing: ${ids.max}")
    val v = VectorOps.vectorTakedownExternal(spark, sf).collect()
    assert(v.nonEmpty)
    assert(v.forall(r => r.getAs[Long]("src") % 7L != 0L &&
      r.getAs[Long]("dst") % 7L != 0L),
      "no erased vector may appear on either side of a served edge")
  }

  test("v22 age-off on the vector shelf: frozen cells, per-horizon tombstones, re-rank over survivors") {
    val dir = "/root/testdata/sf0.001"
    // fingerprint-keyed artifact persists across runs — fresh lifecycle
    DedupOps.deleteRecursively(
      MemberShelf.path(spark, dir, MemberShelf.v22).toFile)
    val served = VectorOps.vectorAgeOff(spark, dir).collect()
    val idx = MemberShelf.path(spark, dir, MemberShelf.v22)
    val Array(h1, h2) = new String(Files.readAllBytes(
      idx.resolve("_HORIZONS")), "UTF-8").trim.split("\\s+").map(_.toLong)
    assert(h1 < h2)
    // no expired vector appears on either side of the graph
    assert(served.forall(r => r.getAs[Long]("src") > h2 &&
      r.getAs[Long]("dst") > h2))
    // serve ≡ the graph over the surviving members of the SAME frozen
    // assignment (retention must not relearn the quantizer)
    val assign = spark.read.parquet(
      s"${DedupOps.buildNearDupIndex(spark, dir)}/assign")
    val expected = VectorOps.knnDirectedTop3(DedupOps.cellBlockedPairs(
        assign.filter(col("vec_id") > h2), DedupOps.NearDupCellCap))
      .collect().map(_.toSeq.toVector).toSeq
    assert(served.map(_.toSeq.toVector).toSeq === expected)
    // one tombstone generation per horizon, through the shared verb
    val tombNames = idx.resolve("tombstones").toFile.listFiles()
      .map(_.getName).sorted.toSeq
    assert(tombNames.exists(_.startsWith(s"delete-h$h1-")) &&
      tombNames.exists(_.startsWith(s"delete-h$h2-")), tombNames)
    // compaction folds both; serve unchanged, anti-join gone
    assert(DedupOps.compactTombstoneIndex(spark, idx, idCol = "vec_id"))
    val after = VectorOps.vectorAgeOff(spark, dir)
    assert(after.collect().map(_.toSeq.toVector).toSeq === expected)
    assert(!after.queryExecution.executedPlan.toString.contains("LeftAnti"))
  }

  test("t37 is idempotent across serves and crash-safe at the takedown window") {
    val dir = craft()
    DedupOps.tombstoneReelect(spark, dir).collect()
    val idx = MemberShelf.path(spark, dir, MemberShelf.t37)
    val marker = idx.resolve("_INDEX_READY")
    val nonce0 = new String(Files.readAllBytes(marker), "UTF-8")
    val first = DedupOps.tombstoneReelect(spark, dir)
      .collect().map(_.toSeq.toVector).toSeq
    assert(new String(Files.readAllBytes(marker), "UTF-8") === nonce0,
      "a second serve must not re-apply the takedown")
    // crash inside the takedown window: marker removed, artifact on
    // disk — recovery rebuilds from scratch and re-applies the
    // takedown deterministically
    Files.delete(marker)
    val recovered = DedupOps.tombstoneReelect(spark, dir)
      .collect().map(_.toSeq.toVector).toSeq
    assert(recovered === first)
    assert(Files.size(marker) > 0, "recovery must re-stamp a fresh nonce")
  }

  test("external-list markers are fingerprint-keyed: a second DIFFERENT list lands, a re-submitted list no-ops at any multiplicity") {
    // the compliance rule (q44/s16/t46) on the tombstone shelves:
    // gen/marker derive from the erasure list's sorted-DISTINCT-id
    // md5, so a legal-hold queue's SECOND, different list lands
    // beside the first — the fixed-_TAKEDOWN_EXT shape would silently
    // no-op it — while a re-submitted request (byte-identical OR
    // differing only in duplicate multiplicity) short-circuits.
    val dir = craft() // twins {1, 100}; singletons {2}, {150}
    import spark.implicits._
    val out = MemberShelf.path(spark, dir, MemberShelf.t39)
    MemberShelf.build(spark, dir, MemberShelf.t39)
    def canons: Seq[Long] = DedupOps.aliveMembers(
        spark, DedupOps.requireReady(out))
      .groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("canon"))
      .select(col("canon")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    DedupOps.applyTakedownExternal(spark, out, Seq(1L).toDF("doc_id"))
    assert(canons === Seq(2L, 100L, 150L), "canon 1 erased → re-elect 100")
    // the second, DIFFERENT list must LAND (999 is absent → no-ops)
    DedupOps.applyTakedownExternal(spark, out,
      Seq(100L, 999L).toDF("doc_id"))
    assert(canons === Seq(2L, 150L),
      "a new erasure list must take effect, never share a marker")
    // two fingerprint markers + two tombstone generations on disk —
    // distinct gens also means no delete-* filename collision
    val markers = out.toFile.listFiles().map(_.getName)
      .filter(_.startsWith("_TAKEDOWN_X")).sorted.toSeq
    assert(markers.size === 2 && markers.distinct.size === 2, markers)
    val gens = out.resolve("tombstones").toFile.listFiles()
      .map(_.getName.split("-")(1)).distinct.toSeq
    assert(gens.size === 2, gens)
    // re-submission at a different duplicate multiplicity is the SAME
    // request: marker no-op (nonce untouched, no third generation)
    val nonce0 = new String(Files.readAllBytes(
      out.resolve("_INDEX_READY")), "UTF-8")
    DedupOps.applyTakedownExternal(spark, out,
      Seq(100L, 100L, 999L, 999L, 999L).toDF("doc_id"))
    assert(new String(Files.readAllBytes(
      out.resolve("_INDEX_READY")), "UTF-8") === nonce0)
    assert(out.resolve("tombstones").toFile.listFiles()
      .map(_.getName.split("-")(1)).distinct.toSeq.size === 2)
    assert(canons === Seq(2L, 150L))
  }

  test("m14/v24 route through the shared fingerprint-keyed takedown (no fixed marker on any shelf)") {
    // the gate fixtures stage one deterministic list per artifact —
    // the pin here is the marker SHAPE on the real gate artifacts:
    // both shelves' markers carry the staged list's fingerprint, so
    // the second-different-list behavior pinned above holds for them
    // by construction (one shared verb, zero shelf-specific code).
    val sf = "/root/testdata/sf0.001"
    MemberShelf.stage(spark, sf, MemberShelf.m14)
    val mTag = DedupOps.erasureFingerprint(spark.read.parquet(
      DedupOps.stageErasures(spark, sf, "documents", "doc_id")
        .resolve("erasures").toString))
    assert(Files.exists(MemberShelf.path(spark, sf, MemberShelf.m14)
      .resolve(s"_TAKEDOWN_X$mTag")))
    MemberShelf.stage(spark, sf, MemberShelf.v24)
    val vTag = DedupOps.erasureFingerprint(spark.read.parquet(
      DedupOps.stageErasures(spark, sf, "embeddings", "vec_id")
        .resolve("erasures").toString),
      idCol = "vec_id")
    assert(Files.exists(MemberShelf.path(spark, sf, MemberShelf.v24)
      .resolve(s"_TAKEDOWN_X$vTag")))
  }

  test("t47 fan-out: one erasure list yields ONE surviving doc set across every shelf holding doc state") {
    // the cross-shelf consistency a compliance pipeline is audited
    // on: after the fan-out, the band and media membership shelves
    // serve EXACTLY the same surviving doc set (corpus minus the
    // present listed ids), the cluster shelf serves a subset of it
    // (clustered survivors — singletons carry no rows by t13's rule)
    // with no listed id, and the sum shelf's aggregate equals the
    // recomputation over the surviving principals' events.
    val sf = "/root/testdata/sf0.001"
    DedupOps.takedownFanout(spark, sf).collect()
    val listDf = spark.read.parquet(
      DedupOps.stageErasures(spark, sf, "documents", "doc_id")
        .resolve("erasures").toString)
    val listed = listDf.collect().map(_.getAs[Long]("doc_id")).toSet
    def ids(df: org.apache.spark.sql.DataFrame, c: String): Set[Long] =
      df.select(col(c)).distinct().collect().map(_.getLong(0)).toSet
    val expected =
      ids(Tables(spark, sf, "documents"), "doc_id") -- listed
    val band = ids(DedupOps.aliveMembers(spark,
      DedupOps.requireReady(MemberShelf.path(spark, sf, MemberShelf.t39))),
      "doc_id")
    val media = ids(DedupOps.aliveMembers(spark,
      DedupOps.requireReady(MemberShelf.path(spark, sf, MemberShelf.m14))),
      "doc_id")
    assert(band === expected, "band shelf must serve corpus minus listed")
    assert(media === band, "media and band shelves must agree exactly")
    val cluster = ids(ClusterShelf.served(spark,
      DedupOps.requireReady(ClusterShelf.path(spark, sf, ClusterShelf.t46))),
      "doc_id")
    assert(cluster.subsetOf(expected) &&
      cluster.intersect(listed).isEmpty,
      "the cluster shelf must serve only surviving docs")
    // sum shelf: the served aggregate ≡ the rebuild over events whose
    // principal survives (same list, applied as user ids)
    val served = Relational.fanoutSumTakedown(spark, sf, listDf)
      .collect().map(_.toSeq.toVector).toSeq
    val rebuilt = Tables(spark, sf, "events")
      .join(listDf.select(col("doc_id").as("user_id")),
        Seq("user_id"), "left_anti")
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("cents")).cast("double") / 100d, 2).as("sum_value"))
      .orderBy(col("event_type"))
      .collect().map(_.toSeq.toVector).toSeq
    assert(served === rebuilt,
      "no listed principal may contribute to the served aggregate")
  }

  test("erasureFingerprint: set-keyed at 1M ids with O(1) driver state (r21 — no collect_list)") {
    // the r21 reformulation (count + decimal-sum + bit-XOR of the
    // per-id hash) must keep the compliance key's contract: the tag
    // is a pure function of the DISTINCT id SET — order- and
    // multiplicity-insensitive, sensitive to any element change — and
    // must never materialize the list in one aggregation row (the
    // prior sorted-concat md5 built an O(list) driver buffer; at the
    // 1M ids exercised here that was ~8 MB in one row and ~100 MB at
    // a pathological 10M). Runtime bound: one aggregation pass.
    import spark.implicits._
    val n = 1000000L
    val base = spark.range(0L, n).select(col("id").as("doc_id"))
    val shuffled = spark.range(0L, n)
      .select(((col("id") * 7919L) % n).as("doc_id")) // a permutation
    val duplicated = base.unionAll(base.limit(1000))
    val oneOff = spark.range(0L, n)
      .select(when(col("id") === 123456L, lit(n + 17L))
        .otherwise(col("id")).as("doc_id"))
    val tag = DedupOps.erasureFingerprint(base)
    assert(tag.length === 12)
    assert(DedupOps.erasureFingerprint(shuffled) === tag,
      "order must not change the fingerprint")
    assert(DedupOps.erasureFingerprint(duplicated) === tag,
      "duplicate multiplicity must not change the fingerprint")
    assert(DedupOps.erasureFingerprint(oneOff) !== tag,
      "a single replaced id must change the fingerprint")
    // empty list: deterministic (the no-op path still writes a
    // marker keyed by it)
    assert(DedupOps.erasureFingerprint(base.filter(col("doc_id") < 0L))
      === DedupOps.erasureFingerprint(base.filter(col("doc_id") < -1L)))
  }

  test("erasureFingerprint: pathological 10M-id list stays O(1) driver state and deterministic") {
    // the r20 verdict's pathological case, pinned: the pre-r21
    // sorted-concat form would have built a ~100 MB single aggregation
    // row here; the two-hash-stream reduction (r22 rule fp3) keeps the
    // driver state at five scalars regardless of list size. Determinism
    // across re-runs and partitionings is the idempotency contract.
    val n = 10000000L
    val big = spark.range(0L, n).select(col("id").as("doc_id"))
    val tag = DedupOps.erasureFingerprint(big)
    assert(tag.length === 12)
    // a different partitioning of the same set shares the tag
    assert(DedupOps.erasureFingerprint(big.repartition(7)) === tag)
    // dropping ONE element from the 10M set changes the tag — both
    // hash streams see it, so an engineered single-stream collision
    // is not enough to forge a no-op
    assert(DedupOps.erasureFingerprint(
      big.filter(col("doc_id") =!= 4999999L)) !== tag)
  }
}
