package graft.queries

import java.nio.file.{Files, Path}

import graft.SparkSpec

/** Cross-process mutation safety for the living artifacts: the
  * in-process [[DedupOps.artifactLock]] cannot serialize two mutating
  * DRIVERS, so the commit protocol adds (1) a `_LEASE` file lease
  * (atomic CREATE_NEW; stale-TTL break for dead holders) and (2) a
  * CONDITIONAL commit — `_CUT` is re-read under the lease and a
  * mismatch with the cut the delta was computed against throws
  * [[DedupOps.ArtifactConflict]] instead of committing. This suite
  * interleaves two simulated writers at the API level (exactly the
  * interleave a second process produces: read cut → lose the race →
  * commit) and pins: no lost generation, no double-advance or
  * REGRESSION of `_CUT`, retry convergence, stale-lease break, and
  * live-lease wait.
  */
class ArtifactLeaseSpec extends SparkSpec {

  /** A minimal committed artifact: one base generation, _CUT = 10. */
  private def freshArtifact(): Path = {
    val out = Files.createTempDirectory("lease_spec_")
    writeRel(out.resolve("buckets"), 1L)
    // the base build writes part-* names; rename to match
    Files.write(out.resolve("_CUT"), "10".getBytes("UTF-8"))
    Files.write(out.resolve("_INDEX_READY"),
      System.nanoTime().toString.getBytes("UTF-8"))
    out
  }

  /** Write a one-row (band, sig, canon) parquet relation to `dst`. */
  private def writeRel(dst: Path, v: Long): Path = {
    spark.range(v, v + 1)
      .selectExpr("id AS band", "id AS sig", "id AS canon")
      .coalesce(1).write.mode("overwrite").parquet(dst.toString)
    dst
  }

  private def gens(out: Path): Seq[String] =
    Option(out.resolve("buckets").toFile.listFiles()).toSeq.flatten
      .map(_.getName).filter(_.endsWith(".parquet")).sorted

  test("a conditional commit against a moved _CUT throws ArtifactConflict; nothing is lost") {
    val out = freshArtifact()
    // writer A reads cut = 10 and computes its delta
    val cutA = DedupOps.cutOf(out)
    val tmpA = writeRel(out.resolve("buckets_append_a"), 15L)
    // writer B (the other driver) lands a full cycle first
    val tmpB = writeRel(out.resolve("buckets_append_b"), 20L)
    DedupOps.commitArtifactAppend(out, tmpB, 20L, expectedCut = cutA)
    assert(DedupOps.cutOf(out) === 20L)
    // A's commit was computed against cut 10 — it must CONFLICT, not
    // regress _CUT to its own newCut or collide generation files
    val e = intercept[DedupOps.ArtifactConflict] {
      DedupOps.commitArtifactAppend(out, tmpA, 15L, expectedCut = cutA)
    }
    assert(e.getMessage.contains("_CUT moved"))
    assert(DedupOps.cutOf(out) === 20L, "no regression/double-advance")
    assert(gens(out).exists(_.startsWith("append-20-")),
      "writer B's generation must survive the losing writer")
    assert(!gens(out).exists(_.startsWith("append-15-")),
      "the losing writer must not have committed")
    assert(!Files.exists(tmpA), "the stale delta is cleaned up")
    assert(!Files.exists(out.resolve("_LEASE")), "lease released")
  }

  test("retryOnConflict re-reads the cut and converges; both generations land") {
    val out = freshArtifact()
    var interfered = false
    DedupOps.retryOnConflict() {
      val cut = DedupOps.cutOf(out)
      if (!interfered) {
        interfered = true
        // the other driver commits between our read and our commit
        val tmpB = writeRel(out.resolve("buckets_append_b"), cut + 5)
        DedupOps.commitArtifactAppend(out, tmpB, cut + 5,
          expectedCut = cut)
      }
      val tmpA = writeRel(out.resolve("buckets_append_a"), cut + 10)
      DedupOps.commitArtifactAppend(out, tmpA, cut + 10,
        expectedCut = cut)
    }
    // attempt 1 read cut 10, B advanced to 15, A conflicted; attempt 2
    // read 15 and committed at 25 — nothing lost, watermark monotone
    assert(DedupOps.cutOf(out) === 25L)
    assert(gens(out).exists(_.startsWith("append-15-")))
    assert(gens(out).exists(_.startsWith("append-25-")))
  }

  test("a stale lease (dead holder) is broken; the mutation proceeds") {
    val out = freshArtifact()
    Files.write(out.resolve("_LEASE"), "dead@nowhere".getBytes("UTF-8"))
    Files.setLastModifiedTime(out.resolve("_LEASE"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600L * 1000))
    val prev = sys.props.get("graft.artifact.leaseTtlMs")
    sys.props("graft.artifact.leaseTtlMs") = "1000"
    try {
      val cut = DedupOps.cutOf(out)
      val tmp = writeRel(out.resolve("buckets_append_a"), 20L)
      DedupOps.commitArtifactAppend(out, tmp, 20L, expectedCut = cut)
      assert(DedupOps.cutOf(out) === 20L)
      assert(!Files.exists(out.resolve("_LEASE")),
        "the broken-then-reacquired lease is released after the commit")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifact.leaseTtlMs") = v
        case None => sys.props -= "graft.artifact.leaseTtlMs"; ()
      }
    }
  }

  test("housekeeping sweep: a stale-fingerprint artifact deletes; a live one survives and re-derives cleanly") {
    val corpus = Files.createTempDirectory("sweep_corpus_").toString
    import spark.implicits._
    def writeDocs(n: Int): Unit =
      (1 to n).map(i => (i.toLong, s"alpha beta gamma delta doc $i word"))
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    writeDocs(5)
    val idx1 = MemberShelf.build(spark, corpus, MemberShelf.t37)
    assert(Files.exists(java.nio.file.Paths.get(idx1, "_KEY")),
      "builds must stamp the key the sweep adjudicates from")
    // live fingerprint → the artifact survives the sweep
    assert(!DedupOps.sweepStaleArtifacts(spark, corpus).contains(idx1))
    assert(Files.exists(java.nio.file.Paths.get(idx1)))
    // the corpus regenerates (new fingerprint) → the old artifact dir
    // is unreachable garbage; the sweep removes it
    writeDocs(9)
    val swept = DedupOps.sweepStaleArtifacts(spark, corpus)
    assert(swept.contains(idx1), s"stale artifact must be swept: $swept")
    assert(!Files.exists(java.nio.file.Paths.get(idx1)))
    // the family re-derives cleanly at its NEW fingerprint path …
    val idx2 = MemberShelf.build(spark, corpus, MemberShelf.t37)
    assert(idx2 !== idx1)
    assert(Files.size(java.nio.file.Paths.get(idx2, "_INDEX_READY")) > 0)
    // … and the fresh build is live: a second sweep leaves it alone
    assert(DedupOps.sweepStaleArtifacts(spark, corpus).isEmpty)
    assert(Files.exists(java.nio.file.Paths.get(idx2)))
  }

  test("a live lease blocks the waiter until released; a stuck one times out loudly") {
    val out = freshArtifact()
    val prevTtl = sys.props.get("graft.artifact.leaseTtlMs")
    val prevWait = sys.props.get("graft.artifact.leaseWaitMs")
    sys.props("graft.artifact.leaseTtlMs") = "60000"
    sys.props("graft.artifact.leaseWaitMs") = "5000"
    try {
      Files.write(out.resolve("_LEASE"), "live@other".getBytes("UTF-8"))
      val releaser = new Thread(() => {
        Thread.sleep(500)
        Files.deleteIfExists(out.resolve("_LEASE")); ()
      })
      releaser.start()
      val t0 = System.nanoTime()
      val cut = DedupOps.cutOf(out)
      val tmp = writeRel(out.resolve("buckets_append_a"), 20L)
      DedupOps.commitArtifactAppend(out, tmp, 20L, expectedCut = cut)
      releaser.join()
      assert((System.nanoTime() - t0) / 1e6 >= 400,
        "the waiter must have blocked on the live lease")
      assert(DedupOps.cutOf(out) === 20L)
      // and a lease nobody releases times out with a loud error, not a
      // silent queue
      sys.props("graft.artifact.leaseWaitMs") = "300"
      Files.write(out.resolve("_LEASE"), "stuck@other".getBytes("UTF-8"))
      val tmp2 = writeRel(out.resolve("buckets_append_b"), 30L)
      val e = intercept[IllegalStateException] {
        DedupOps.commitArtifactAppend(out, tmp2, 30L, expectedCut = 20L)
      }
      assert(e.getMessage.contains("could not acquire"))
      Files.deleteIfExists(out.resolve("_LEASE"))
      ()
    } finally {
      Seq("graft.artifact.leaseTtlMs" -> prevTtl,
        "graft.artifact.leaseWaitMs" -> prevWait).foreach {
        case (k, Some(v)) => sys.props(k) = v
        case (k, None) => sys.props -= k; ()
      }
    }
  }
}
