package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** 100x-scale local demonstration (recorded in BASELINE.md's
  * "Fleet-scale measurement" section): generates a multi-GB fleet of
  * job logs — N copies of the reference's Pig fixture with rewritten
  * job ids, the same corpus shape as MultiLogSpec writ large — plus a
  * word-rotated `copies`x `documents` corpus, then records wall-times
  * for the fleet reports and the dedup operators over them.
  *
  * Usage: `SPARK_DRIVER_MEM=24g SPARK_GRAFT_CPUS=32
  *   sbt "runMain graft.ScaleDemo [nLogs] [docCopies] [phase]"`
  * Defaults: 10000 logs (~17 GB of log text), 100 doc copies
  * (500k documents); `phase` = `all` (default) | `fleet` | `docs` |
  * `ann` | `stream` | `profile` | `t8` | `audit` restricts which
  * measurement family runs (the fleet reports take ~45 min over
  * 16 GB — `docs` re-measures only the document/vector operators
  * against the reused corpora, EXCLUDING the ANN-recall block; `ann`
  * only the ANN-recall block against the reused embeddings; `stream`
  * only the live per-job timeline stream over the 100-log slice;
  * `profile` only the summaryPerJob parse-vs-aggregation
  * decomposition; `t8` only the fleet SimHash pair measurement;
  * `audit` only the t23 exact-vs-sketch audit over every LSH
  * candidate pair; `knn` the v15 graph + its recall and cross-cell
  * boundary audit + the v19 cell-index build/serve split;
  * `curation` the composed t28+t27+t19 publish
  * pass; `restart` the s10 checkpointed stop/resume over the 10 M
  * event corpus — run-1/run-2/uninterrupted walls + restored state
  * size; `cc` the t33 CC label-index build/serve split over the
  * 500k-doc corpus; `inc` the t34 incremental-dedup economics —
  * base-tranche index build, delta probe, and the full-corpus
  * re-band it replaces; `v20` the kNN-graph delta-append — cells
  * learned on the base half, delta absorbed without relearn,
  * measured next to the knn phase's full-relearn wall).
  * Generation is idempotent — corpora are kept under `target/` and
  * reused.
  *
  * The rotated copies are mostly-overlapping shingle sets, so the
  * corpus is near-duplicate-heavy by construction — the dedup
  * operators run against a workload that actually exercises their
  * candidate generation, not 500k unrelated documents.
  */
object ScaleDemo {

  private val FixtureSrc =
    "/root/reference/test/cvrsvc11-ib_1288370608574_job_201010291643_0125_kbhatia_PigLatin%3AkmerStats.pig.txt"
  private val BaseJobId = "201010291643_0125"

  def main(args: Array[String]): Unit = {
    val nLogs = args.lift(0).map(_.toInt).getOrElse(10000)
    val copies = args.lift(1).map(_.toInt).getOrElse(100)
    val phase = args.lift(2).getOrElse("all")
    def in(ps: String*): Boolean = ps.contains(phase)
    // phases that read the log fleet (and so may need to generate it)
    val needsLogs = in("all", "fleet", "stream", "profile")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"SCALE $tag: ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // ---------------------------------------------- corpus generation
    val fleetDir = Paths.get("target", "scale_fleet").toAbsolutePath
    // the fleet scan globs the whole directory, so the corpus on disk
    // must be exactly the nLogs requested: trim any surplus left by a
    // larger prior run (zero-padded names sort numerically)
    if (needsLogs && Files.isDirectory(fleetDir)) {
      val logs = fleetDir.toFile.list().filter(_.endsWith(".txt")).sorted
      if (logs.length > nLogs)
        logs.drop(nLogs).foreach(f => Files.delete(fleetDir.resolve(f)))
    }
    val haveLogs = Files.isDirectory(fleetDir) &&
      fleetDir.toFile.list().count(_.endsWith(".txt")) >= nLogs
    // the docs phase neither reads nor generates the 16 GB log fleet
    if (!haveLogs && needsLogs) {
      Files.createDirectories(fleetDir)
      val (src, base, dir) = (FixtureSrc, BaseJobId, fleetDir.toString)
      time(s"generate $nLogs logs") {
        // executors write the files: the rewrite is embarrassingly
        // parallel and the fixture is re-read once per partition
        spark.range(nLogs.toLong).repartition(cpus.toInt)
          .foreachPartition { it: java.util.Iterator[java.lang.Long] =>
            val text = new String(Files.readAllBytes(Paths.get(src)), "UTF-8")
            it.forEachRemaining { iL =>
              val i = iL.toLong
              val id = f"2010102900${i / 10000}%02d_${i % 10000}%04d"
              Files.write(Paths.get(dir, f"log-$i%05d.txt"),
                text.replace(base, id).getBytes("UTF-8"))
            }
          }
      }
    }

    val docsDir = Paths.get("target", "scale_docs").toAbsolutePath
    val docsParquet = docsDir.resolve("documents.parquet")
    def corpusStale(path: java.nio.file.Path, need: Long): Boolean =
      Files.exists(path) && spark.read.parquet(path.toString).count() != need
    // the copies× events corpus (fresh user ids per copy), shared by
    // the docs-phase stream/join measurements and the restart phase;
    // generated once, reused — returns the actual on-disk row count
    val evParquet = docsDir.resolve("events.parquet")
    def ensureEventsCorpus(): Long = {
      val baseEvents = Tables(spark, "/root/testdata/sf0.1", "events").count()
      if (!Files.exists(evParquet) ||
          corpusStale(evParquet, baseEvents * copies)) {
        time(s"generate ${copies}x events") {
          val base = Tables(spark, "/root/testdata/sf0.1", "events")
          val maxUser = base.agg(max(col("user_id"))).head().getLong(0) + 1
          base
            .withColumn("k", explode(sequence(lit(0), lit(copies - 1))))
            .withColumn("event_id",
              col("event_id") * copies + col("k"))
            .withColumn("user_id",
              col("user_id") + col("k") * maxUser)
            .drop("k")
            .repartition(cpus.toInt)
            .write.mode(SaveMode.Overwrite).parquet(evParquet.toString)
        }
      }
      spark.read.parquet(evParquet.toString).count()
    }
    val baseDocs =
      if (in("all", "docs", "t8", "audit", "t13", "curation", "cc",
          "ccdelta", "inc"))
        Tables(spark, "/root/testdata/sf0.1", "documents").count()
      else 0L
    if (in("all", "docs", "t8", "audit", "t13", "curation", "cc",
        "ccdelta", "inc") && (!Files.exists(docsParquet) ||
        corpusStale(docsParquet, baseDocs * copies))) {
      time(s"generate ${copies}x documents") {
        // copy k of each doc rotates its word order by k: every copy
        // family is a cluster of mutual near-duplicates (overlapping
        // circular shingles) with distinct exact digests
        Tables(spark, "/root/testdata/sf0.1", "documents")
          .withColumn("k", explode(sequence(lit(0), lit(copies - 1))))
          .withColumn("words", split(col("text"), " "))
          .withColumn("r", pmod(col("k"), size(col("words"))))
          .withColumn("text", when(col("k") === 0, col("text"))
            .otherwise(concat_ws(" ",
              concat(expr("slice(words, r + 1, size(words) - r)"),
                expr("slice(words, 1, r)")))))
          .withColumn("doc_id", col("doc_id") * copies + col("k"))
          .drop("k", "words", "r")
          .repartition(cpus.toInt)
          .write.mode(SaveMode.Overwrite).parquet(docsParquet.toString)
      }
    }

    // --------------------------------------------------- measurements
    // Fleet reports: ONE splittable scan over the whole directory,
    // every aggregation keyed by the id-embedded job — no per-file
    // driver loop (Reports.scala fleet section). Each measurement
    // starts from a clear cache and re-pins its own (the measured time
    // includes one parse + cache build — the cost a fresh session
    // pays).
    //
    // Labels report what the measurement actually read, not the
    // requested sizes: the corpora are reused across runs, so a run
    // asked for fewer logs/copies than a prior run generated still
    // measures (and must label) the bigger corpus on disk.
    val actualLogs =
      if (Files.isDirectory(fleetDir))
        fleetDir.toFile.list().count(_.endsWith(".txt"))
      else 0
    val actualDocs =
      if (in("all", "docs", "t8", "audit", "t13", "curation", "cc",
          "ccdelta", "inc"))
        spark.read.parquet(docsParquet.toString).count()
      else 0L
    if (phase == "all" || phase == "fleet") {
    val v = jobhistory.JobHistoryViews.fromFile(spark, s"$fleetDir/*.txt")
    time(s"fleet summaryPerJob ($actualLogs jobs, one scan)") {
      noop(jobhistory.Reports.summaryPerJob(v))
    }
    // timelinePerJob expands O(duration x attempts) slot rows per job
    // (~15M for the Pig job at scale 1000, i.e. ~1.5B rows per 100
    // jobs): expansion is measured on a 100-log slice so the demo
    // stays minutes — the per-job cost is constant, jobs are
    // independent. The sweep-line variant generates ~100x fewer rows:
    // same slice for the direct comparison, then the full fleet.
    spark.catalog.clearCache()
    val slice = jobhistory.JobHistoryViews.fromFile(spark,
      s"$fleetDir/log-000*.txt")
    time("fleet timelinePerJob (100-log slice, expansion)") {
      noop(jobhistory.Reports.timelinePerJob(slice))
    }
    spark.catalog.clearCache(); slice.ensureCached()
    time("fleet timelinePerJobSweepLine (100-log slice)") {
      noop(jobhistory.Reports.timelinePerJobSweepLine(slice))
    }
    spark.catalog.clearCache(); v.ensureCached()
    time(s"fleet timelinePerJobSweepLine ($actualLogs jobs)") {
      noop(jobhistory.Reports.timelinePerJobSweepLine(v))
    }
    }
    if (in("all", "docs", "ann", "t8", "audit", "t13", "t9sweep", "knn", "curation", "cc", "ccdelta", "inc", "v20", "sweep")) {
    spark.catalog.clearCache()
    // t23 at fleet scale — separable (`phase=audit`) because the audit
    // re-derives the EXACT intersection for every one of the ~25 M LSH
    // candidate pairs (pair → shingles joins, ~50 shingles/doc → ~1 B
    // intermediate rows): the per-pair cost the docstring promises is
    // real but the pair count at this corpus makes it the most
    // expensive document measurement — the price of a full sketch
    // error profile instead of a sample.
    if (in("all", "audit")) {
      time(s"t23 sketch audit ($actualDocs docs)") {
        noop(queries.DedupOps.sketchAudit(spark, docsDir.toString))
      }
      spark.catalog.clearCache()
    }
    // t8 at fleet scale — separable (`phase=t8`) because its candidate
    // generation is the quadratic one: the 4×8-bit pigeonhole gives a
    // FIXED 1024 blocks, so block size grows O(n) and candidates
    // O(n²/1024) even on benign corpora (vs t7's bucket count ∝ n).
    // The round-10 bucket cap bounds per-block compute to O(cap²) and
    // makes the wall finite here; the measurement records the cost of
    // exact-hamming completeness at 500k docs next to t7's sketch.
    if (in("all", "docs", "t8")) {
    time(s"t8 SimHash pairs ($actualDocs docs)") {
      noop(queries.DedupOps.simhashPairs(spark, docsDir.toString))
    }
    }
    if (in("all", "docs")) {
    time(s"t2 exact dedup ($actualDocs docs)") {
      noop(queries.TextOps.dedupExact(spark, docsDir.toString))
    }
    time(s"t7 MinHash LSH ($actualDocs docs)") {
      noop(queries.DedupOps.minhashLsh(spark, docsDir.toString))
    }
    time(s"t15 decontaminate ($actualDocs docs)") {
      noop(queries.TextOps.decontaminate(spark, docsDir.toString))
    }
    // t24 next to t15: the bloom-prefilter path vs the exact broadcast
    // path on the same corpus (different gram width — 4 vs 8 — so the
    // comparison is of shapes, not identical work)
    time(s"t25 passage dedup ($actualDocs docs)") {
      noop(queries.TextOps.passageDedup(spark, docsDir.toString))
    }
    time(s"t24 bloom decontaminate ($actualDocs docs)") {
      noop(queries.TextOps.bloomDecontaminate(spark, docsDir.toString))
    }
    time(s"t22 unigram logprob ($actualDocs docs)") {
      noop(queries.TextOps.unigramLogprob(spark, docsDir.toString))
    }
    // t31 on the rotation corpus: every copy family shares its
    // circular 8-grams, so corpus-wide novelty collapses toward 0 —
    // the measurement exercises the two-shuffle shape (gram-keyed df
    // + per-doc rollup) at 25 M gram rows, not the statistic
    time(s"t31 novelty rate ($actualDocs docs)") {
      noop(queries.TextOps.noveltyRate(spark, docsDir.toString))
    }
    }
    // t13 separable (`phase=t13`): its wall is dominated by the label
    // DISCOVERY loop (a fresh session always pays it — the memo is
    // per-session) over the ~25 M-edge graph, the one docs
    // measurement sensitive enough to box/cache state to need
    // re-adjudication runs of its own.
    if (in("all", "docs", "t13")) {
    time(s"t13 CC dedup clusters ($actualDocs docs)") {
      noop(queries.DedupOps.nearDupClusters(spark, docsDir.toString))
    }
    // t29 right after t13 in the same session: the split reuses t13's
    // memoized labels, so its own cost is the corpus join + map-only
    // hash — the t13-amortized price a pipeline actually pays
    time(s"t29 leakage-safe split ($actualDocs docs)") {
      noop(queries.DedupOps.leakageSafeSplit(spark, docsDir.toString))
    }
    }
    // t33 (`phase=cc`): the build/serve split on the CC labels — the
    // v19 idiom applied to the last per-session cascade. The build
    // deletes any existing artifact first so its wall is the true
    // cold cost (MinHash edge derivation + label propagation + the
    // labels write); the serve runs in a FRESH session (no label
    // memo) and pays only the artifact read + the cluster-assembly
    // tail — the steady-state cost every later session pays instead
    // of re-converging the graph.
    if (in("all", "cc")) {
      spark.catalog.clearCache()
      val idx = queries.DedupOps.ccIndexPath(spark, docsDir.toString)
      def rmCc(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rmCc)); p.delete(); ()
      }
      rmCc(idx.toFile)
      // the build runs in its OWN fresh session so the wall is the
      // true cold cost in EVERY phase ordering: under phase=all the
      // t13 section above has already converged this graph into the
      // session label memo — timing buildCcIndex on that session
      // would measure only the parquet write while claiming the
      // cascade
      val ccBuildSession = spark.newSession()
      time(s"t33 CC label-index BUILD -> parquet artifact " +
          s"($actualDocs docs)") {
        queries.DedupOps.buildCcIndex(ccBuildSession, docsDir.toString)
      }
      val fresh = spark.newSession()
      spark.catalog.clearCache()
      var clustered = 0L
      time("t33 CC clusters SERVE from written label index " +
          "(fresh session)") {
        clustered = queries.DedupOps
          .ccClustersServe(fresh, docsDir.toString).count()
      }
      println(s"SCALE t33 clustered docs: $clustered")
      // t42/t43/t44: CLUSTER MAINTENANCE economics — the merge-graph
      // append and the scoped forget vs the full re-convergence both
      // avoid. Fresh artifact per run so the append is real work.
      spark.catalog.clearCache()
      val ccOut = queries.DedupOps
        .t42IndexPath(spark, docsDir.toString, "sd42")
      rmCc(ccOut.toFile)
      time(s"t42 base cluster build (half of $actualDocs docs)") {
        queries.DedupOps.buildT42Index(spark, docsDir.toString, "sd42")
      }
      spark.catalog.clearCache()
      time("t42 incremental append (other half, merge-graph update)") {
        queries.DedupOps.t42Append(spark, docsDir.toString, "sd42")
      }
      spark.catalog.clearCache()
      time("t42 steady serve (folded labels, artifact-only)") {
        noop(queries.DedupOps.ccClustersOfFolded(spark,
          queries.DedupOps.requireReady(ccOut)))
      }
      spark.catalog.clearCache()
      time("t42 comparator: full-corpus re-convergence (what the " +
          "append avoids)") {
        noop(queries.DedupOps
          .rebuildBucketClusters(spark, docsDir.toString))
      }
      // forget ONE canon: the affected-component re-derivation is
      // O(component), the replacement read costs one anti-join
      val canon = queries.DedupOps.t42FoldedLabels(spark, ccOut)
        .filter(col("node") === col("label"))
        .agg(min(col("node"))).head().getLong(0)
      import spark.implicits._
      spark.catalog.clearCache()
      time("t43 forget one canon (scoped re-derivation + tombstone)") {
        queries.DedupOps.t43Forget(spark, ccOut,
          Seq(canon).toDF("doc_id"), "sd")
      }
      spark.catalog.clearCache()
      time("t43 post-forget serve (replacement-preferring read)") {
        noop(queries.DedupOps.ccClustersOfFolded(spark, ccOut))
      }
      spark.catalog.clearCache()
      time("t44 compact (bake replacement, retire key list)") {
        queries.DedupOps.t44Compact(spark, ccOut); ()
      }
      spark.catalog.clearCache()
      time("t44 post-compact serve (single generation, no anti-join)") {
        noop(queries.DedupOps.ccClustersOfFolded(spark, ccOut))
      }
    }
    // the NIGHTLY shape (`phase=ccdelta`, also in cc/all): this
    // fixture is adversarially dedup-heavy (every doc is in a
    // 100-copy rotation family), so the half-corpus append above
    // touches ~EVERY cluster and incremental ≈ rebuild there — the
    // merge-graph update earns its keep when the delta touches a
    // small fraction of clusters, which is what a real crawl does.
    // Measure exactly that: converge to a 99 % watermark (staging),
    // then time the LAST 1 % tranche alone against the full
    // re-convergence comparator above.
    if (in("all", "cc", "ccdelta")) {
      spark.catalog.clearCache()
      val ccOutB = queries.DedupOps
        .t42IndexPath(spark, docsDir.toString, "sd42b")
      def rmB(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rmB)); p.delete(); ()
      }
      rmB(ccOutB.toFile)
      val db = spark.read.parquet(docsParquet.toString)
        .agg(min(col("doc_id")), max(col("doc_id"))).head()
      val cut99 = db.getLong(0) +
        ((db.getLong(1) - db.getLong(0)) * 99) / 100
      queries.DedupOps.buildT42Index(spark, docsDir.toString, "sd42b")
      time("t42 staging: absorb to the 99% watermark (maintenance)") {
        queries.DedupOps.t42Append(spark, docsDir.toString, "sd42b",
          upTo = cut99)
      }
      // working copies of the 99%-staged artifact, taken BEFORE the
      // nightly append: the s18 stream block replays the same last-1%
      // tranche as TEN micro-batches against one; the s19 block runs
      // the same tranche with a mid-stream retention advance on the
      // other (gates never share a mutable artifact)
      def stagedWorkingCopy(): java.nio.file.Path = {
        val w = Files.createTempDirectory("sd_s18_")
        Seq("labels", "members").foreach { rel =>
          Files.createDirectories(w.resolve(rel))
          ccOutB.resolve(rel).toFile.listFiles()
            .filter(_.getName.endsWith(".parquet")).foreach { f =>
              Files.copy(f.toPath, w.resolve(rel).resolve(f.getName))
              ()
            }
        }
        Seq("_CUT", "_INDEX_READY").foreach { n =>
          Files.copy(ccOutB.resolve(n), w.resolve(n)); ()
        }
        Files.write(w.resolve("_BATCH"),
          s"-1 ${queries.DedupOps.cutOf(w)}".getBytes("UTF-8"))
        w
      }
      val s18Work = stagedWorkingCopy()
      val s19Work = stagedWorkingCopy()
      spark.catalog.clearCache()
      time("t42 NIGHTLY append: the last 1% tranche " +
          "(merge-graph, O(batch + touched))") {
        queries.DedupOps.t42Append(spark, docsDir.toString, "sd42b")
      }
      spark.catalog.clearCache()
      time("t42 post-nightly steady serve") {
        noop(queries.DedupOps.ccClustersOfFolded(spark,
          queries.DedupOps.requireReady(ccOutB)))
      }
      // s18 fenced fold at scale: the same last-1% tranche absorbed
      // as ten stream micro-batches — pre-fold the labels dir gained
      // one min-foldable generation per batch FOREVER (read
      // amplification O(batches)); the threshold-2 policy bounds the
      // served generation count, folds amortized at batch start
      spark.catalog.clearCache()
      locally {
        val d10 = spark.read.parquet(docsParquet.toString)
        val hiAll = db.getLong(1)
        time("s18 stream-absorb 10 micro-batches under fenced " +
            "auto-compact (threshold 2, labels+members fold)") {
          (1 to 10).foreach { g =>
            val loB = cut99 + (hiAll - cut99) * (g - 1) / 10
            val hiB =
              if (g == 10) hiAll else cut99 + (hiAll - cut99) * g / 10
            queries.StreamingOps.cluster.processBatch(spark, s18Work,
              d10.filter(col("doc_id") > loB && col("doc_id") <= hiB)
                .select(col("doc_id"), col("text")), (g - 1).toLong)
            println(s"SCALE s18 after batch $g: " +
              s"${queries.Generations.count(s18Work.resolve("labels"))} " +
              "labels generations")
          }
        }
        spark.catalog.clearCache()
        time("s18 post-stream folded serve (policy-bounded read)") {
          noop(queries.DedupOps.ccClustersOfFolded(spark, s18Work))
        }
        queries.DedupOps.deleteRecursively(s18Work.toFile)
      }
      // s19 at scale: the fold × forget economics — the SAME ten-batch
      // nightly with a retention advance after batch 5 (a real crawl's
      // nightly horizon: the oldest 2 % of the staged ids expire; on
      // this adversarially dedup-heavy fixture the affected-component
      // re-derivation is the worst case the verbs allow). Post-advance
      // batches' replaced-node rows land as relabel-a generations and
      // the fenced fold bounds BOTH sides — the per-batch print shows
      // plain and replacement generation counts stay ≤ threshold+1
      // while the replacement stays active.
      spark.catalog.clearCache()
      locally {
        val d10 = spark.read.parquet(docsParquet.toString)
        val hiAll = db.getLong(1)
        val loAll = db.getLong(0)
        // the CANONICAL replacement-side counter (what the fold
        // policy itself thresholds on), at an unbounded fence so
        // every landed generation counts
        def relabelGens(w: java.nio.file.Path): Int =
          queries.Generations.count(w.resolve("labels"),
            queries.Generations.Replacement)
        def batch(g: Int): Unit = {
          val loB = cut99 + (hiAll - cut99) * (g - 1) / 10
          val hiB =
            if (g == 10) hiAll else cut99 + (hiAll - cut99) * g / 10
          val t0 = System.nanoTime()
          queries.StreamingOps.cluster.processBatch(spark, s19Work,
            d10.filter(col("doc_id") > loB && col("doc_id") <= hiB)
              .select(col("doc_id"), col("text")), (g - 1).toLong)
          println(f"SCALE s19 batch $g%d: " +
            f"${(System.nanoTime() - t0) / 1e9}%.2f s, plain=" +
            s"${queries.Generations.count(s19Work.resolve("labels"))} " +
            s"rel=${relabelGens(s19Work)}")
        }
        time("s19 stream-absorb batches 1-5 (pre-advance)") {
          (1 to 5).foreach(batch)
        }
        val h = loAll + (cut99 - loAll) * 2 / 100
        spark.catalog.clearCache()
        time("s19 retention advance mid-tranche (t45 forget, oldest " +
            "2% of staged ids)") {
          queries.StreamingOps.withMicroBatchConf(spark) {
            queries.DedupOps.t45AgeOff(spark, s19Work, h,
              tsCol = "doc_id")
          }
        }
        time("s19 stream-absorb batches 6-10 (post-advance: absorbs " +
            "fold into the active replacement)") {
          (6 to 10).foreach(batch)
        }
        spark.catalog.clearCache()
        time("s19 post-stream folded serve (replacement-aware read)") {
          noop(queries.DedupOps.ccClustersOfFolded(spark, s19Work))
        }
        queries.DedupOps.deleteRecursively(s19Work.toFile)
      }
    }
    // t34 (`phase=inc`): incremental-dedup economics at fleet scale —
    // ------------------------------------ artifact housekeeping sweep
    // `phase=sweep`: delete artifact dirs whose persisted _KEY
    // fingerprint no longer matches the staged corpora — the families
    // accumulate one dir per corpus regeneration across sessions with
    // no reaper; the _INDEX_READY-gated dirs are re-derivable by
    // construction, so a sweep can never lose state, only disk.
    if (in("all", "sweep")) {
      (Seq(docsDir.toString) ++
        Seq("sf0.001", "sf0.01", "sf0.1")
          .map(sf => s"/root/testdata/$sf")
          .filter(d => Files.isDirectory(Paths.get(d))))
        .foreach { d =>
          val swept = queries.DedupOps.sweepStaleArtifacts(spark, d)
          println(s"SCALE sweep $d: ${swept.size} stale artifact " +
            "dirs removed")
          swept.foreach(p => println(s"SCALE   swept $p"))
        }
    }

    // the nightly index build on the base tranche, the per-batch delta
    // probe against it, and the cost the probe replaces (re-banding
    // the whole corpus for pair generation, t7's path). The ratio of
    // the last two is the operator's reason to exist.
    if (in("all", "inc")) {
      spark.catalog.clearCache()
      val idx = queries.DedupOps.bandIndexPath(spark, docsDir.toString)
      def rmInc(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rmInc)); p.delete(); ()
      }
      rmInc(idx.toFile)
      time(s"t34 band-index BUILD on the base tranche " +
          s"($actualDocs docs total, low-id half)") {
        queries.DedupOps.buildBandIndex(spark, docsDir.toString)
      }
      spark.catalog.clearCache()
      var flagged = 0L
      time("t34 delta probe against the persisted index (high-id half)") {
        flagged = queries.DedupOps
          .incrementalDedup(spark, docsDir.toString).count()
      }
      println(s"SCALE t34 flagged delta docs: $flagged")
      spark.catalog.clearCache()
      time("t7 full-corpus re-band + pair generation (the avoided cost)") {
        noop(queries.DedupOps.minhashLsh(spark, docsDir.toString))
      }
      // t35 write-back economics: the append wall (absorb the delta
      // INTO the index, O(batch)) vs the from-scratch rebuild it
      // replaces (re-band the full corpus)
      spark.catalog.clearCache()
      val rwIdx = queries.DedupOps.rwBandIndexPath(spark, docsDir.toString)
      rmInc(rwIdx.toFile)
      time("t35 rw band-index BUILD (base tranche)") {
        queries.DedupOps.buildRwBandIndex(spark, docsDir.toString)
      }
      // a realistic SMALL batch first (2 % of the id range) — the wall
      // a nightly append actually pays, O(batch); then the rest
      spark.catalog.clearCache()
      locally {
        val b = spark.read.parquet(docsParquet.toString)
          .agg(min(col("doc_id")), max(col("doc_id"))).head()
        val smallTo = (b.getLong(0) + b.getLong(1)) / 2 +
          math.max(1L, (b.getLong(1) - b.getLong(0)) / 50)
        time("t35 APPEND a small batch (2% of the id range)") {
          queries.DedupOps.appendBandIndex(spark, docsDir.toString, smallTo)
        }
      }
      spark.catalog.clearCache()
      time("t35 APPEND the remaining delta (+ _CUT advance)") {
        queries.DedupOps.appendBandIndex(spark, docsDir.toString)
      }
      // structural (box-independent) evidence: the appends wrote ONLY
      // the delta generations; a rebuild rewrites the whole relation
      locally {
        val fs = rwIdx.resolve("buckets").toFile.listFiles()
          .filter(_.getName.endsWith(".parquet"))
        val (app, base) = fs.partition(_.getName.startsWith("append-"))
        println(s"SCALE t35 bucket bytes: base build " +
          s"${base.map(_.length).sum} B (${base.length} files), " +
          s"appended ${app.map(_.length).sum} B (${app.length} files)")
      }
      spark.catalog.clearCache()
      time("t35 serve after append (min-merge read of the living index)") {
        noop(queries.DedupOps.servedBandBuckets(spark, docsDir.toString))
      }
      spark.catalog.clearCache()
      val rebuildScratch = docsDir.resolve("t35_rebuild_scratch")
      time("t35 from-scratch rebuild over base+delta (the avoided cost)") {
        queries.DedupOps
          .bandedSignaturesOf(spark.read.parquet(docsParquet.toString))
          .groupBy(col("band"), col("sig"))
          .agg(min(col("doc_id")).as("canon"))
          .write.mode(SaveMode.Overwrite).parquet(rebuildScratch.toString)
      }
      rmInc(rebuildScratch.toFile)
      // t36: MULTI-GENERATION read amplification + the compaction that
      // resets it — the t35 evidence is one append; a month of nightly
      // batches is N. Build the base on t36's own artifact, absorb the
      // delta as 10 equal nightly tranches (10 appended generations),
      // measure the serve and a one-batch probe at N generations, then
      // COMPACT and re-measure: the read-side cost the LSM idiom
      // accrues (a re-appended key matches once per generation it
      // appears in) and the one relation-sized fold that collapses it.
      spark.catalog.clearCache()
      val t36Idx = queries.DedupOps.t36BandIndexPath(spark, docsDir.toString)
      rmInc(t36Idx.toFile)
      time("t36 band-index BUILD (base tranche)") {
        queries.DedupOps.buildBandIndexAt(spark, docsDir.toString, t36Idx)
      }
      locally {
        val b = spark.read.parquet(docsParquet.toString)
          .agg(min(col("doc_id")), max(col("doc_id"))).head()
        val (lo, hi) = (b.getLong(0), b.getLong(1))
        val mid = (lo + hi) / 2
        val gens = 10
        time(s"t36 APPEND $gens nightly batches (equal tranches of the delta)") {
          (1 to gens).foreach { g =>
            queries.DedupOps.appendBandIndexAt(spark, docsDir.toString,
              t36Idx, upTo =
                if (g == gens) hi else mid + (hi - mid) * g / gens)
          }
        }
        def bucketStats(tag: String): Unit = {
          val fs = t36Idx.resolve("buckets").toFile.listFiles()
            .filter(_.getName.endsWith(".parquet"))
          println(s"SCALE t36 $tag bucket bytes: ${fs.map(_.length).sum} B " +
            s"(${fs.length} files, " +
            s"${fs.map(_.getName.split("-")(0)).distinct.length} kinds)")
        }
        def serveWall(tag: String): Unit = {
          spark.catalog.clearCache()
          time(s"t36 serve (min-merge read) of the $tag index") {
            noop(spark.read.parquet(t36Idx.resolve("buckets").toString)
              .groupBy(col("band"), col("sig"))
              .agg(min(col("canon")).as("canon")))
          }
        }
        def probeWall(tag: String): Unit = {
          spark.catalog.clearCache()
          time(s"t36 probe one nightly batch vs the $tag index") {
            val batch = spark.read.parquet(docsParquet.toString)
              .filter(col("doc_id") > mid + (hi - mid) * (gens - 1) / gens)
              .select(col("doc_id"), col("text"))
            noop(queries.DedupOps.bandedSignaturesOf(batch)
              .select(col("doc_id"), col("band"), col("sig"))
              .join(spark.read.parquet(t36Idx.resolve("buckets").toString),
                Seq("band", "sig"))
              .groupBy(col("doc_id"))
              .agg(min(col("band")).as("band"),
                min(col("canon")).as("dup_of")))
          }
        }
        bucketStats(s"$gens-generation")
        serveWall(s"$gens-generation")
        probeWall(s"$gens-generation")
        time(s"t36 COMPACT (fold ${gens + 1} generations into one)") {
          queries.DedupOps.compactBandIndex(spark, t36Idx)
        }
        bucketStats("compacted")
        serveWall("compacted")
        probeWall("compacted")
      }
      // t37: deletion economics — the membership build (the
      // invertibility premium over the folded index), the O(deleted)
      // takedown, the tombstone-aware serve (anti-join + fold), and
      // the compaction that folds the deletions in. The comparator is
      // the cost deletion would otherwise pay: re-banding the corpus
      // minus the deleted docs (t7's map side), measured above as the
      // t7 row.
      spark.catalog.clearCache()
      val t37Idx = queries.DedupOps.t37IndexPath(spark, docsDir.toString)
      rmInc(t37Idx.toFile)
      time("t37 MEMBERSHIP index BUILD (full corpus, unfolded)") {
        queries.DedupOps.buildMembersIndex(spark, docsDir.toString)
      }
      spark.catalog.clearCache()
      time("t37 TAKEDOWN (derive + write tombstones, index-local)") {
        queries.DedupOps.tombstoneTakedown(spark, docsDir.toString)
      }
      locally {
        val tombBytes = Option(t37Idx.resolve("tombstones").toFile
          .listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
        val memBytes = t37Idx.resolve("members").toFile.listFiles()
          .filter(_.getName.endsWith(".parquet"))
        println(s"SCALE t37 members ${memBytes.map(_.length).sum} B " +
          s"(${memBytes.length} files), tombstones " +
          s"${tombBytes.map(_.length).sum} B (${tombBytes.size} files)")
      }
      spark.catalog.clearCache()
      time("t37 tombstone-aware serve (anti-join + re-election fold)") {
        noop(queries.DedupOps
          .tombstoneServedBuckets(spark, docsDir.toString))
      }
      spark.catalog.clearCache()
      time("t37 COMPACT (fold tombstones into the membership)") {
        queries.DedupOps.compactTombstoneIndex(spark, t37Idx)
      }
      spark.catalog.clearCache()
      time("t37 serve after compaction (plain scan-and-fold)") {
        noop(queries.DedupOps
          .tombstoneServedBuckets(spark, docsDir.toString))
      }
      // t38: retention age-off economics — the policy predicate flows
      // through the same O(deleted) tombstone write t37 pays, once per
      // horizon advance; the comparator is re-banding the surviving
      // corpus (the t7 row above). The membership build is the same
      // invertibility premium t37's row measures.
      spark.catalog.clearCache()
      val t38Idx = queries.DedupOps.t38IndexPath(spark, docsDir.toString)
      rmInc(t38Idx.toFile)
      time("t38 MEMBERSHIP index BUILD + horizon staging (full corpus)") {
        queries.DedupOps.buildAgeOffIndex(spark, docsDir.toString)
      }
      locally {
        val Array(h1, h2) = new String(java.nio.file.Files.readAllBytes(
          t38Idx.resolve("_HORIZONS")), "UTF-8").trim.split("\\s+")
          .map(_.toLong)
        spark.catalog.clearCache()
        time("t38 AGE-OFF horizon 1 (first fifth of the id span)") {
          queries.DedupOps.ageOffMembers(spark, t38Idx, h1)
        }
        spark.catalog.clearCache()
        time("t38 AGE-OFF horizon 2 advance (second fifth)") {
          queries.DedupOps.ageOffMembers(spark, t38Idx, h2)
        }
        val tombs = Option(t38Idx.resolve("tombstones").toFile.listFiles())
          .toSeq.flatten.filter(_.getName.endsWith(".parquet"))
        println(s"SCALE t38 tombstones ${tombs.map(_.length).sum} B " +
          s"(${tombs.size} files, " +
          s"${tombs.map(_.getName.split("-")(1)).distinct.length} horizons)")
        spark.catalog.clearCache()
        time("t38 aged serve (anti-join + re-election fold)") {
          noop(queries.DedupOps.aliveMembers(spark, t38Idx)
            .groupBy(col("band"), col("sig"))
            .agg(min(col("doc_id")).as("canon")))
        }
        spark.catalog.clearCache()
        time("t38 COMPACT (fold BOTH horizon generations into the membership)") {
          queries.DedupOps.compactTombstoneIndex(spark, t38Idx)
        }
        spark.catalog.clearCache()
        time("t38 serve after compaction (plain scan-and-fold)") {
          noop(queries.DedupOps.aliveMembers(spark, t38Idx)
            .groupBy(col("band"), col("sig"))
            .agg(min(col("doc_id")).as("canon")))
        }
      }
      // t40: the auto-compact POLICY at fleet scale — t36 measured
      // what an UNMANAGED month of nightly appends accrues (the
      // 10-generation read amplification above) and the one manual
      // fold that resets it; t40 runs the same 10 nightly batches
      // under the threshold policy (fold when generations exceed 3)
      // and prints the generation count after each append: bounded
      // FOREVER (≤ 3 served), the fold amortized across every 3
      // appends instead of deferred until an operator remembers.
      spark.catalog.clearCache()
      val t40Idx = queries.DedupOps.t40IndexPath(spark, docsDir.toString)
      rmInc(t40Idx.toFile)
      time("t40 band-index BUILD (base tranche)") {
        queries.DedupOps.buildBandIndexAt(spark, docsDir.toString, t40Idx)
      }
      locally {
        val b = spark.read.parquet(docsParquet.toString)
          .agg(min(col("doc_id")), max(col("doc_id"))).head()
        val (lo, hi) = (b.getLong(0), b.getLong(1))
        val mid = (lo + hi) / 2
        val gens = 10
        time(s"t40 APPEND $gens nightly batches under auto-compact " +
            "(threshold 3, folds amortized in-line)") {
          (1 to gens).foreach { g =>
            queries.DedupOps.appendBandIndexAt(spark, docsDir.toString,
              t40Idx,
              upTo = if (g == gens) hi else mid + (hi - mid) * g / gens,
              autoCompactMax = 3)
            println(s"SCALE t40 after batch $g: " +
              s"${queries.Generations.count(t40Idx.resolve("buckets"))} generations")
          }
        }
        spark.catalog.clearCache()
        time("t40 steady-state serve (policy-bounded generation count)") {
          noop(spark.read.parquet(t40Idx.resolve("buckets").toString)
            .groupBy(col("band"), col("sig"))
            .agg(min(col("canon")).as("canon")))
        }
      }
      // s16 auto-compact: the STREAM's bounded-generations policy.
      // The working index previously gained one bucket generation per
      // micro-batch FOREVER (probe read amplification O(batches));
      // the fenced fold (threshold 2, the default) bounds it — same
      // 10 nightly batches as t40, absorbed through the stream's own
      // probe-then-append path, generation count printed per batch.
      spark.catalog.clearCache()
      locally {
        val work =
          queries.StreamingOps.s16WorkingCopy(spark, docsDir.toString)
        val b = spark.read.parquet(docsParquet.toString)
          .agg(min(col("doc_id")), max(col("doc_id"))).head()
        val (lo, hi) = (b.getLong(0), b.getLong(1))
        val mid = (lo + hi) / 2
        val gens = 10
        val d = spark.read.parquet(docsParquet.toString)
        time(s"s16 stream-absorb $gens batches under fenced " +
            "auto-compact (threshold 2, folds amortized in-line)") {
          (1 to gens).foreach { g =>
            val loB = mid + (hi - mid) * (g - 1) / gens
            val hiB = if (g == gens) hi else mid + (hi - mid) * g / gens
            val batch = d
              .filter(col("doc_id") > loB && col("doc_id") <= hiB)
              .select(col("doc_id"), col("text"))
            queries.StreamingOps.band
              .processBatch(spark, work, batch, (g - 1).toLong)
            println(s"SCALE s16 after batch $g: " +
              s"${queries.Generations.count(work.resolve("buckets"))} " +
              "bucket generations")
          }
        }
        spark.catalog.clearCache()
        time("s16 steady-state probe relation (policy-bounded)") {
          noop(queries.StreamingOps.s16AliveBuckets(spark, work)
            .groupBy(col("band"), col("sig"))
            .agg(min(col("canon")).as("canon")))
        }
        // s17's verb at the same scale: the retention horizon lands
        // BETWEEN absorbed batches through the shared ageOffMembers —
        // O(expired) tombstone write against the stream's own members
        // relation, no corpus re-read; the aged probe then pays the
        // anti-join + full-fidelity re-election over survivors
        time("s17 retention advance on the streamed index (O(expired))") {
          queries.DedupOps.ageOffMembers(spark, work, lo + (mid - lo) / 2)
        }
        spark.catalog.clearCache()
        time("s17 aged probe relation (survivors, re-elected)") {
          noop(queries.StreamingOps.s16AliveBuckets(spark, work)
            .groupBy(col("band"), col("sig"))
            .agg(min(col("canon")).as("canon")))
        }
        queries.DedupOps.deleteRecursively(work.toFile)
      }
      // m8: the media family's absorb-the-delta economics (t34's idiom
      // on perceptual hashes) — build, probe, and the full-corpus m5
      // recompute the probe replaces
      spark.catalog.clearCache()
      val mIdx =
        queries.MultimodalOps.mediaIndexPath(spark, docsDir.toString)
      rmInc(mIdx.toFile)
      time(s"m8 media-index BUILD on the base tranche " +
          s"($actualDocs media total, low-id half)") {
        queries.MultimodalOps.buildMediaIndex(spark, docsDir.toString)
      }
      spark.catalog.clearCache()
      var mFlagged = 0L
      time("m8 delta probe against the persisted media index") {
        mFlagged = queries.MultimodalOps
          .mediaIndexProbe(spark, docsDir.toString).count()
      }
      println(s"SCALE m8 flagged delta media: $mFlagged")
      spark.catalog.clearCache()
      time("m5 full-corpus perceptual-hash dedup (the avoided cost)") {
        noop(queries.MultimodalOps.phashDedup(spark, docsDir.toString))
      }
      // the near-miss recompute the media family ALSO avoids re-running
      // per batch: m6's hamming-ball candidate join + CC clustering
      spark.catalog.clearCache()
      time("m6 full-corpus media near-dup clusters (the near-miss recompute)") {
        noop(queries.MultimodalOps.mediaDupClusters(spark, docsDir.toString))
      }
      // s14: the SAME t34 artifact served on the streaming front door —
      // the live-ingest wall next to the batch probe's (the gate runs
      // this at sf0.1; this is the fleet-corpus wall). Inlined rather
      // than calling streamedIncrementalDedup: the fleet corpus is a
      // part-file directory, not the single-file fixture its
      // pathGlobFilter expects.
      spark.catalog.clearCache()
      locally {
        import org.apache.spark.sql.streaming.Trigger
        val idxPath = queries.DedupOps.buildBandIndex(spark, docsDir.toString)
        val cut = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(idxPath, "_CUT")), "UTF-8").trim.toLong
        val ckpt = docsDir.resolve(s"s14_ckpt_${System.nanoTime()}")
        try time("s14 streamed delta probe vs the index " +
            "(AvailableNow, complete mode)") {
          val schema = spark.read.parquet(docsParquet.toString).schema
          val stream = spark.readStream.schema(schema)
            .parquet(docsParquet.toString)
            .filter(col("doc_id") > cut)
            .select(col("doc_id"), col("text"))
          val flagged = queries.DedupOps.bandedSignaturesOf(stream)
            .select(col("doc_id"), col("band"), col("sig"))
            .join(spark.read.parquet(s"$idxPath/buckets"),
              Seq("band", "sig"))
            .groupBy(col("doc_id"))
            .agg(min(col("band")).as("band"), min(col("canon")).as("dup_of"))
          val q = flagged.writeStream.format("noop").outputMode("complete")
            .option("checkpointLocation", ckpt.toString)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          Option(q.lastProgress).foreach(p =>
            println(s"SCALE s14 streamed sink rows: ${p.sink.numOutputRows}"))
        } finally rmInc(ckpt.toFile)
      }
    }
    // the composed "publish a corpus" curation pass — dataset card
    // (t28) + importance resampling (t27) + length bucketing (t19)
    // run back-to-back over the same corpus, ONE recorded wall: the
    // end-to-end cost of turning a cleaned corpus into a shippable
    // dataset. All three are one-scan shapes (map-only or map-side
    // combinable aggregates), so the composed pass is ~3 corpus scans
    // with no joins anywhere.
    if (in("all", "curation")) {
      spark.catalog.clearCache()
      time(s"curation pass t28 card + t27 resample + t19 buckets " +
          s"($actualDocs docs, composed)") {
        noop(queries.TextOps.datasetCard(spark, docsDir.toString))
        noop(queries.TextOps.importanceSample(spark, docsDir.toString))
        noop(queries.TextOps.lengthBuckets(spark, docsDir.toString))
      }
    }
    // embeddings at copies x sf0.1 scale: copies are per-copy shifted
    // in one component (deterministic, not bit-identical) — k-means
    // cost is data-size-driven, not content-driven
    val embParquet = docsDir.resolve("embeddings.parquet")
    val baseVecs = Tables(spark, "/root/testdata/sf0.1", "embeddings").count()
    if (!Files.exists(embParquet) ||
        corpusStale(embParquet, baseVecs * copies)) {
      time(s"generate ${copies}x embeddings") {
        Tables(spark, "/root/testdata/sf0.1", "embeddings")
          .withColumn("k", explode(sequence(lit(0), lit(copies - 1))))
          .withColumn("vec_id", col("vec_id") * copies + col("k"))
          .withColumn("embedding", expr(
            "transform(embedding, (x, i) -> " +
              "CAST(x + IF(i = 0, k * 1e-4, 0D) AS FLOAT))"))
          .drop("k")
          .repartition(cpus.toInt)
          .write.mode(SaveMode.Overwrite).parquet(embParquet.toString)
      }
    }
    val actualVecs = spark.read.parquet(embParquet.toString).count()
    // ANN recall vs brute, fleet corpus: v3/v4/v6 trade recall for
    // touching one bucket/cell per query instead of the whole corpus —
    // measure the trade instead of asserting it. The measure is
    // THRESHOLD recall (the standard ANN metric, robust to ties): an
    // answer counts iff its exact cosine reaches the query's 3rd-best
    // brute cosine (v1 over the full corpus, same 10 fixed queries).
    // Identity recall is ill-defined on this corpus: copies are spaced
    // 1e-4 apart in one of 64 dims, so dozens of candidates tie at the
    // 6-decimal rounding the gate queries pin for oracle parity, and
    // set-intersection would score the tie-break order, not the index.
    // Each variant's wall includes its index build (the cost a fresh
    // session pays). Guarded to all/ann only: phase=docs re-measures
    // only the document/vector operators (the usage doc's contract —
    // an unguarded block made docs pay the brute ground truth + six
    // ANN measurements + the IVF index-build write too).
    if (in("all", "ann")) locally {
      def cosPairs(df: DataFrame): Map[(Long, Long), Double] = {
        val pairs = df.select(col("q_id"), col("c_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val ids = pairs.flatMap(p => Seq(p._1, p._2)).toSet
        val vecs = spark.read.parquet(embParquet.toString)
          .filter(col("vec_id").isin(ids.toSeq: _*))
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
          .collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
        def cos(a: Array[Double], b: Array[Double]): Double = {
          var d = 0d; var na = 0d; var nb = 0d; var i = 0
          while (i < a.length) {
            d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
          }
          d / math.sqrt(na * nb)
        }
        pairs.map(p => p -> cos(vecs(p._1), vecs(p._2))).toMap
      }
      val brute3 = time(s"v1 brute top-3 ground truth ($actualVecs vectors)") {
        cosPairs(queries.VectorOps.cosineTopK(spark, docsDir.toString)
          .filter(col("rnk") <= 3))
      }
      // per-query admission threshold: the 3rd-best exact cosine
      val thresh = brute3.groupBy(_._1._1).map { case (q, m) =>
        q -> m.values.min }
      val nTruth = brute3.size
      def recall3(tag: String, ann: => DataFrame): Unit = {
        val got = time(s"ann $tag ($actualVecs vectors)") { cosPairs(ann) }
        // 1e-6 tolerance = the 6-decimal rounding the gate queries pin
        // for oracle parity; this corpus's copies sit ~3e-10 apart in
        // cosine, far below it — distinguishing them is tie-breaking,
        // not index quality (ScaleOpsSpec's crafted geometries do the
        // discriminating recall tests; this measures the fleet-scale
        // bound: every variant must return 6-decimal-optimal
        // neighbors, a random or mis-routed index scores ~0)
        val hits = got.count { case ((q, _), c) => c >= thresh(q) - 1e-6 }
        println(f"SCALE ann recall@3 $tag: ${hits.toDouble / nTruth}%.2f")
      }
      recall3("v3 lsh-bucket",
        queries.VectorOps.annLsh(spark, docsDir.toString))
      recall3("v4 ivf raw-label nprobe=1",
        queries.VectorOps.annIvfProbes(spark, docsDir.toString, 1))
      recall3("v4 ivf raw-label nprobe=3",
        queries.VectorOps.annIvfProbes(spark, docsDir.toString, 3))
      recall3("v6 hamming",
        queries.VectorOps.annBinaryHamming(spark, docsDir.toString))
      // v4 treats the table's label column as the IVF cells; this
      // corpus's labels are arbitrary wrt geometry, so raw-label
      // routing measures ~0 recall — the honest negative recorded
      // above, and the reason an IVF deployment LEARNS its cells
      // first. The real pipeline: v7's k-means assignment relabels
      // the corpus (the index-build pass), the same router probes
      // the learned cells — sign-hash buckets (v3/v6) co-locate the
      // copy families without any build, learned cells recover the
      // same property for IVF.
      val ivfDir = docsDir.resolve("ivf_indexed")
      time(s"ivf index build: v7 cells as labels ($actualVecs vectors)") {
        queries.VectorOps.kmFinalAssign(spark, docsDir.toString)
          .select(col("vec_id"), col("embedding"),
            col("cluster").cast("int").as("label"))
          .repartition(cpus.toInt)
          .write.mode(SaveMode.Overwrite)
          .parquet(ivfDir.resolve("embeddings.parquet").toString)
      }
      recall3("v4 ivf learned-cells nprobe=1",
        queries.VectorOps.annIvfProbes(spark, ivfDir.toString, 1))
      recall3("v4 ivf learned-cells nprobe=3",
        queries.VectorOps.annIvfProbes(spark, ivfDir.toString, 3))
      // the GATED learned-cells entry (v9_ann_ivf_learned): same
      // route, but the cells/centroids are learned inside the query
      // (kmFinalAssign + one recompute) instead of via the staged
      // index write above — the oracle-checked deployment shape
      recall3("v9 ivf learned-cells gated query nprobe=1",
        queries.VectorOps.annIvfLearned(spark, docsDir.toString))
      // v11: the PQ-ADC scan — 4-byte codes + per-query LUTs, raw
      // floats never touched. The copy-heavy corpus makes this the
      // friendly case (a query's twins share its codes exactly), so
      // 6-decimal-optimal recall here measures "ADC finds the twin
      // family"; the coarse 16-entry codebooks are the honest limit
      // on corpora without near-identical copies.
      recall3("v11 pq-adc",
        queries.VectorOps.pqAdcSearch(spark, docsDir.toString))
      // v12: the composed IVF-PQ index — learned cells route the
      // query, ADC scans only the probed cell's codes. Recall pays
      // BOTH boundaries (cell routing + codebook resolution); the
      // scan touches 1/k of the corpus at 64× compression.
      recall3("v12 ivf-pq nprobe=1",
        queries.VectorOps.pqIvfSearch(spark, docsDir.toString))
      // v13: the index-free truncated-dim prefilter + exact re-rank.
      // The copy families tie in the 32-dim prefix exactly as they do
      // in full dims, so the stage-1 cut keeps them and the re-rank
      // restores 6-decimal-optimal order — recall measures the
      // two-stage cut's safety at fleet scale, with NO index build.
      recall3("v13 prefix re-rank",
        queries.VectorOps.prefixRerank(spark, docsDir.toString)
          .filter(col("rnk") <= 3))
      // v18: the int8 middle rung of the compression ladder — global
      // symmetric quantization (no training), integer stage-1 dot,
      // exact re-rank of the survivors
      recall3("v18 int8 re-rank",
        queries.VectorOps.annInt8Rerank(spark, docsDir.toString))
      // v17: the build/serve split — the index WRITTEN to parquet,
      // then served from a FRESH session that owns no memo and learns
      // nothing: the steady-state cost a deployment pays per query
      // batch, vs the cold in-query builds above (v12's wall includes
      // its Lloyd/codebook learning; v15's 177 s cold is mostly the
      // Lloyd cascade). The build row here runs after v11/v12 in this
      // session, so its wall = encode + write with the codebooks
      // already memoized — the true cold build ≈ the v12 cold wall +
      // this write.
      locally {
        val idxPath = queries.VectorOps.annIndexPath(spark, docsDir.toString)
        def rm(p: java.io.File): Unit = {
          Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
        }
        rm(idxPath.toFile)
        time(s"v17 index build -> parquet artifact ($actualVecs vectors)") {
          queries.VectorOps.buildAnnIndex(spark, docsDir.toString)
        }
        val fresh = spark.newSession()
        recall3("v17 serve from written index (fresh session)",
          queries.VectorOps.annIndexServe(fresh, docsDir.toString))
      }
    }
    if (in("all", "docs")) {
    time(s"v7 kmeans ($actualVecs vectors)") {
      noop(queries.VectorOps.kmeansClusters(spark, docsDir.toString))
    }
    time(s"v8 cluster prune ($actualVecs vectors)") {
      noop(queries.VectorOps.clusterPrune(spark, docsDir.toString))
    }
    time(s"v10 PQ codes ($actualVecs vectors)") {
      noop(queries.VectorOps.pqQuantize(spark, docsDir.toString))
    }
    time(s"v11 PQ ADC search ($actualVecs vectors)") {
      noop(queries.VectorOps.pqAdcSearch(spark, docsDir.toString))
    }
    time(s"v12 IVF-PQ search ($actualVecs vectors)") {
      noop(queries.VectorOps.pqIvfSearch(spark, docsDir.toString))
    }
    time(s"v13 prefix re-rank ($actualVecs vectors)") {
      noop(queries.VectorOps.prefixRerank(spark, docsDir.toString))
    }
    time(s"v16 range search ($actualVecs vectors)") {
      noop(queries.VectorOps.rangeSearch(spark, docsDir.toString))
    }
    time(s"m5 phash dedup ($actualDocs docs)") {
      noop(queries.MultimodalOps.phashDedup(spark, docsDir.toString))
    }
    // m6 next to m5: the hamming-ball cluster pass — 4×65536 possible
    // blocks keep buckets tiny at this corpus (vs t8's fixed 1024),
    // so the wall is ahash + block join + the CC rounds on the edges
    time(s"m6 media dup clusters ($actualDocs docs)") {
      noop(queries.MultimodalOps.mediaDupClusters(spark, docsDir.toString))
    }
    time(s"m7 frame dedup ($actualDocs docs)") {
      noop(queries.MultimodalOps.frameDedup(spark, docsDir.toString))
    }
    // q26 at fleet scale: the bucketed range self-join over a
    // copies× events corpus. Copies get FRESH user ids (density per
    // user unchanged — the 100 TB shape is more users, not denser
    // timelines), so qualifying pairs grow linearly with the corpus
    // and the join stays a keyed hash equi-join on (user, bucket).
    val actualEvents = ensureEventsCorpus()
    spark.catalog.clearCache()
    time(s"q26 bucketed range self-join ($actualEvents events)") {
      noop(queries.Relational.q26RangeJoin(spark, docsDir.toString))
    }
    // q30 at fleet scale: the rank window keys on (type, user) —
    // fresh users per corpus copy, so group count grows with the
    // corpus and no reducer ever sorts more than one user's events
    time(s"q30 window ranks ($actualEvents events)") {
      noop(queries.Relational.q30WindowRanks(spark, docsDir.toString))
    }
    // s3 at fleet scale: the LSH ingest-dedup stream (real
    // AvailableNow run, flatMapGroupsWithState keyed by (band, sig))
    // over the 500k-doc corpus, sunk to noop — measures the stream
    // machinery + state handling, not a driver-memory sink
    time(s"s3 ingest-dedup stream ($actualDocs docs)") {
      import org.apache.spark.sql.streaming.Trigger
      val ckpt = docsDir.resolve(s"s3_ckpt_${System.nanoTime()}")
      try {
        val schema = spark.read.parquet(docsParquet.toString).schema
        val stream = spark.readStream.schema(schema)
          .parquet(docsParquet.toString)
          .select(col("doc_id"), col("text"))
        val q = streaming.IngestDedup.bucketCollisions(stream).toDF()
          .writeStream.format("noop")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } finally {
        def rm(p: java.io.File): Unit = {
          Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
        }
        rm(ckpt.toFile)
      }
    }
    // s6 at fleet scale: the stream-stream interval join run as a
    // REAL stream over the copies× events corpus (fresh user ids per
    // copy — match density per user unchanged, so output grows
    // linearly). Both sides watermarked; state evicts per the
    // horizon+watermark bound, noop-sunk so the measurement is the
    // join machinery + state stores, not a driver-memory sink.
    time(s"s6 stream-stream interval join ($actualEvents events)") {
      import org.apache.spark.sql.streaming.Trigger
      val ckpt = docsDir.resolve(s"s6_ckpt_${System.nanoTime()}")
      try {
        val schema = spark.read.parquet(evParquet.toString).schema
        def side(tpe: String) =
          spark.readStream.schema(schema).parquet(evParquet.toString)
            .filter(col("event_type") === tpe)
            .select(col("event_id"), col("user_id"), col("ts"))
        val q = streaming.EventWindows
          .clickPurchaseJoin(side("click"), side("purchase"))
          .writeStream.format("noop")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } finally {
        def rm(p: java.io.File): Unit = {
          Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
        }
        rm(ckpt.toFile)
      }
    }
    // s9 at fleet scale: the live per-window top-k stream over the
    // copies× events corpus — per-window type-histogram state
    // (cardinality = windows × types, independent of event volume),
    // Update mode, noop-sunk.
    time(s"s9 stream top-k ($actualEvents events)") {
      import org.apache.spark.sql.streaming.Trigger
      val ckpt = docsDir.resolve(s"s9_ckpt_${System.nanoTime()}")
      try {
        val schema = spark.read.parquet(evParquet.toString).schema
        val stream = spark.readStream.schema(schema)
          .parquet(evParquet.toString)
          .select(col("ts"), col("event_type"))
        val q = streaming.WindowTopK.topKPerWindow(stream).toDF()
          .writeStream.format("noop")
          .outputMode("update")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } finally {
        def rm(p: java.io.File): Unit = {
          Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
        }
        rm(ckpt.toFile)
      }
    }
    // s7 at fleet scale: exactly-once ingest from a DOUBLED 10 M-event
    // delivery (2 × 10 M rows through the keyed dedup state, half
    // dropped), noop-sunk.
    time(s"s7 exactly-once dedup (2x $actualEvents events)") {
      import org.apache.spark.sql.streaming.Trigger
      val ckpt = docsDir.resolve(s"s7_ckpt_${System.nanoTime()}")
      try {
        val schema = spark.read.parquet(evParquet.toString).schema
        def src =
          spark.readStream.schema(schema).parquet(evParquet.toString)
            .select(col("event_id"), col("ts"))
        val deduped = src.unionAll(src)
          .withColumn("event_time", expr("timestamp_micros(ts DIV 1000)"))
          .withWatermark("event_time", "10 minutes")
          .dropDuplicatesWithinWatermark("event_id")
        val q = deduped.writeStream.format("noop")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } finally {
        def rm(p: java.io.File): Unit = {
          Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
        }
        rm(ckpt.toFile)
      }
    }
    // s8 at fleet scale: the stateless stream-static enrichment join
    // over the copies× events corpus. The gate's customer table only
    // covers base user ids, so the fleet dim is synthesized to cover
    // every corpus user (distinct user ids + a derived segment) —
    // same shape: a batch dim broadcast to every task per micro-batch,
    // zero stream state, noop-sunk.
    time(s"s8 stream-static enrich ($actualEvents events)") {
      import org.apache.spark.sql.streaming.Trigger
      val ckpt = docsDir.resolve(s"s8_ckpt_${System.nanoTime()}")
      try {
        val schema = spark.read.parquet(evParquet.toString).schema
        val dim = spark.read.parquet(evParquet.toString)
          .select(col("user_id").as("d_user")).distinct()
          .withColumn("segment", (col("d_user") % 5).cast("int"))
        val stream = spark.readStream.schema(schema)
          .parquet(evParquet.toString)
          .select(col("event_id"), col("user_id"), col("value"))
        val q = stream.join(broadcast(dim),
            col("user_id") === col("d_user"))
          .select(col("event_id"), col("user_id"), col("segment"),
            col("value"))
          .writeStream.format("noop")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } finally {
        def rm(p: java.io.File): Unit = {
          Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
        }
        rm(ckpt.toFile)
      }
    }
    }
    // t9 scale property — separable (`phase=t9sweep`, the two longest
    // document-side measurements: the pair-growth pair of runs and
    // the three-point kcap wall sweep; a docs re-run that only needs
    // the operator band doesn't pay the ~20 min sweep):
    if (in("all", "t9sweep")) {
    // k-means cells with k ∝ n and a hard cell cap
    // keep candidate pairs ~LINEAR in corpus size — doubling the
    // corpus must roughly double the pair count, not quadruple it
    // (the old fixed-10-label blocking grew O(n²/10))
    graft.functions.VectorDotProduct.register(spark)
    val embAll = spark.read.parquet(embParquet.toString)
      .select(col("vec_id"), col("embedding"))
    def t9Pairs(e: DataFrame, tag: String): Long = {
      var n = 0L
      time(s"t9 near-dup candidate pairs ($tag)") {
        n = queries.DedupOps.cellBlockedPairs(
          queries.DedupOps.nearDupAssign(e),
          queries.DedupOps.NearDupCellCap).count()
      }
      n
    }
    // half corpus by id PREFIX, not parity: nearDupAssign seeds on
    // vec_id < k assuming dense ids, so a % 2 filter would leave only
    // ~k/2 seed cells in the halved run (odd ids under k absent) and
    // skew the growth ratio by under-celling one side
    val pHalf = t9Pairs(embAll.filter(col("vec_id") < actualVecs / 2),
      s"${actualVecs / 2} vectors")
    val pFull = t9Pairs(embAll, s"$actualVecs vectors")
    println(f"SCALE t9 pair growth 2x corpus -> " +
      f"${pFull.toDouble / math.max(1L, pHalf)}%.2fx pairs " +
      f"($pHalf -> $pFull)")
    // t9 assignment wall vs k at fixed n: the brute argmin is O(n·k)
    // (the reason the default kcap exists); the hierarchical coarse
    // route is O(n·√k), which is what lets a deployment raise the cap
    // for finer cells. 512 runs brute; the larger caps route.
    for (kcap <- Seq(512L, 2048L, 8192L)) {
      spark.conf.set("graft.neardup.kcap", kcap.toString)
      val k = math.min(kcap, math.max(8L, math.ceil(actualVecs / 50.0).toLong))
      time(s"t9 assignment (kcap=$kcap -> k=$k, $actualVecs vectors)") {
        noop(queries.DedupOps.nearDupAssign(embAll))
      }
    }
    spark.conf.unset("graft.neardup.kcap")
    }
    // v15 at fleet scale — separable (`phase=knn`): the all-corpus
    // kNN graph over the SAME corpus-scaled capped cells t9 blocks
    // on. Wall ≈ t9's pair join + one thin (src, dst, cos) exchange
    // for the per-source top-3 window; edge count ≈ 3n bounds the
    // output. The GATED v15_knn_graph_scaled path, end-to-end.
    // v20 (`phase=v20`): index maintenance economics — the graph with
    // cells learned on the BASE half and the delta half ABSORBED by
    // one argmin pass against those fixed centroids, measured next to
    // v15's full-corpus relearn (the knn phase's cold wall). The gap
    // is what a per-batch re-index pays for nothing.
    if (in("all", "v20")) {
      graft.functions.VectorDotProduct.register(spark)
      spark.catalog.clearCache()
      var edges = 0L
      time(s"v20 kNN graph: base-half learn + delta absorb " +
          s"($actualVecs vectors)") {
        edges = queries.VectorOps
          .knnGraphDeltaAppend(spark, docsDir.toString).count()
      }
      println(s"SCALE v20 edges: $edges ($actualVecs vectors)")
      // the absorb pass alone: centroids are now memoized, so a fresh
      // split-assign of the delta costs exactly the map-only argmin
      spark.catalog.clearCache()
      time("v20 full assign pass with FIXED centroids (memoized — " +
          "the no-relearn steady state)") {
        noop(queries.DedupOps.nearDupSplitAssign(
          spark, docsDir.toString)._1)
      }
    }
    if (in("all", "knn")) {
      graft.functions.VectorDotProduct.register(spark)
      var edges = 0L
      time(s"v15 scaled kNN graph ($actualVecs vectors)") {
        edges = queries.VectorOps
          .knnGraphScaled(spark, docsDir.toString).count()
      }
      println(s"SCALE v15 kNN edges: $edges ($actualVecs vectors)")
      // graph recall vs brute force on a 10k id-prefix slice — the
      // honest number for the documented cross-cell boundary trade:
      // an edge counts iff its exact cosine reaches that source's
      // 3rd-best brute cosine (threshold recall@3, the same measure
      // the ANN harness uses; 1e-6 = the gates' rounding precision)
      locally {
        val sliceN = math.min(10000L, actualVecs)
        val sl = spark.read.parquet(embParquet.toString)
          .select(col("vec_id"), col("embedding"))
          .filter(col("vec_id") < sliceN)
        val g = queries.DedupOps.cellBlockedPairs(
          queries.DedupOps.nearDupAssign(sl),
          queries.DedupOps.NearDupCellCap)
        val dirE = g.select(col("vec_a").as("src"), col("vec_b").as("dst"),
            col("cos"))
          .unionAll(g.select(col("vec_b").as("src"),
            col("vec_a").as("dst"), col("cos")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
        val graph = dirE.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("src"), col("cos"))
        val q = sl.select(col("vec_id").as("src"),
          col("embedding").as("qv"),
          expr("sqrt(vec_dot(embedding, embedding))").as("qn"))
        val c = sl.select(col("vec_id").as("dst"),
          col("embedding").as("cv"),
          expr("sqrt(vec_dot(embedding, embedding))").as("cn"))
        var recall = 0d
        val bruteAll = q.join(c, col("src") =!= col("dst"))
          .select(col("src"), col("dst"),
            (expr("vec_dot(qv, cv)") / (col("qn") * col("cn")))
              .as("bcos"))
          .withColumn("brnk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("src")).orderBy(col("bcos").desc, col("dst"))))
          .filter(col("brnk") <= 3)
          .persist()
        time(s"v15 graph recall@3 vs brute ($sliceN-vector slice)") {
          val brute3 = bruteAll
            .filter(col("brnk") === 3)
            .select(col("src"), col("bcos").as("thr"))
          val hits = graph.join(brute3, Seq("src"))
            .filter(col("cos") >= col("thr") - 1e-6).count()
          recall = hits.toDouble / (3L * sliceN)
        }
        println(f"SCALE v15 graph recall@3 vs brute: $recall%.2f " +
          f"($sliceN-vector slice)")
        // cross-cell boundary audit — the measured number for the
        // documented probe=1-per-pair trade: how many TRUE (brute)
        // top-3 edges have endpoints sharing NO probed cell? Those
        // are the edges the cell blocking cannot see; the recall
        // above shows how many of them the 2-probe assignment still
        // recovers via a shared second cell. One small join of the
        // 3n brute edges against the ≤2n probe rows.
        locally {
          val asg = queries.DedupOps.nearDupAssign(sl)
            .select(col("vec_id"), col("cluster"))
          val co = bruteAll.select(col("src"), col("dst"))
            .join(asg.toDF("src", "cluster"), Seq("src"))
            .join(asg.toDF("dst", "cluster"), Seq("dst", "cluster"),
              "left_semi")
            .select(col("src"), col("dst")).distinct()
          val total = 3L * sliceN
          val crossing = total - co.count()
          println(f"SCALE v15 boundary audit: ${crossing.toDouble / total}%.3f " +
            f"of brute top-3 edges cross all probed cells " +
            f"($crossing of $total, $sliceN-vector slice)")
        }
        bruteAll.unpersist()
      }
      // v19: the build/serve split applied to the learned kNN cells —
      // the v17 idiom over the OTHER Lloyd cascade. The build here
      // rides the session memo the cold v15 above just populated (the
      // true cold build IS that 160 s cascade), so its wall isolates
      // the artifact write; the serve runs in a FRESH session (no
      // memo) and pays only the artifact read + the within-cell pair
      // join + top-3 tail — the steady-state cost every later session
      // pays instead of relearning the cells.
      locally {
        val idx = queries.DedupOps.nearDupIndexPath(spark, docsDir.toString)
        def rm(p: java.io.File): Unit = {
          Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
        }
        rm(idx.toFile)
        time(s"v19 cell-index build -> parquet artifact ($actualVecs vectors)") {
          queries.DedupOps.buildNearDupIndex(spark, docsDir.toString)
        }
        val fresh = spark.newSession()
        graft.functions.VectorDotProduct.register(fresh)
        spark.catalog.clearCache()
        var servedEdges = 0L
        time(s"v19 kNN graph SERVE from written cell index (fresh session)") {
          servedEdges = queries.VectorOps
            .knnGraphServe(fresh, docsDir.toString).count()
        }
        println(s"SCALE v19 served edges: $servedEdges (expect $edges)")
      }
      // v21: deletion economics on the vector shelf — the assign
      // relation is already unfolded, so forgetting is tombstones
      // alone (no membership premium): measure the members copy, the
      // O(deleted) forget write, the surviving-members graph serve
      // (re-election = re-ranking), and the compaction fold. The
      // comparator is what deletion would cost WITHOUT the frozen
      // cells: relearning the quantizer — the cold v15 cascade
      // measured at the top of this phase.
      locally {
        val out = queries.VectorOps.v21IndexPath(spark, docsDir.toString)
        def rm(p: java.io.File): Unit = {
          Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
        }
        rm(out.toFile)
        time(s"v21 members copy (the v19 assign relation, re-persisted)") {
          queries.VectorOps.buildVecMembers(spark, docsDir.toString)
        }
        spark.catalog.clearCache()
        time("v21 FORGET (derive + write tombstones, index-local)") {
          queries.VectorOps.stageVectorForget(spark, docsDir.toString)
        }
        locally {
          val tombBytes = Option(out.resolve("tombstones").toFile
            .listFiles()).toSeq.flatten
            .filter(_.getName.endsWith(".parquet"))
          println(s"SCALE v21 tombstones ${tombBytes.map(_.length).sum} B " +
            s"(${tombBytes.size} files)")
        }
        spark.catalog.clearCache()
        var fEdges = 0L
        time("v21 surviving-members graph serve (anti-join + re-rank)") {
          fEdges = queries.VectorOps
            .vectorForget(spark, docsDir.toString).count()
        }
        println(s"SCALE v21 served edges over survivors: $fEdges " +
          s"(v19 full graph: $edges)")
        spark.catalog.clearCache()
        time("v21 COMPACT (fold tombstones into the members)") {
          queries.DedupOps.compactTombstoneIndex(spark, out,
            idCol = "vec_id")
        }
        spark.catalog.clearCache()
        time("v21 serve after compaction (plain members scan)") {
          noop(queries.VectorOps.vectorForget(spark, docsDir.toString))
        }
      }
      // v22: retention on the vector shelf — v21's mechanics driven
      // by the horizon predicate, two advances (the scheduled-job
      // shape), each an O(expired) tombstone write; the same
      // relearn comparator applies.
      locally {
        val out = queries.VectorOps.v22IndexPath(spark, docsDir.toString)
        def rm(p: java.io.File): Unit = {
          Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
        }
        rm(out.toFile)
        time("v22 AGE-OFF staging (members copy + TWO horizon advances)") {
          queries.VectorOps.stageVectorAgeOff(spark, docsDir.toString)
        }
        locally {
          val tombBytes = Option(out.resolve("tombstones").toFile
            .listFiles()).toSeq.flatten
            .filter(_.getName.endsWith(".parquet"))
          println(s"SCALE v22 tombstones ${tombBytes.map(_.length).sum} B " +
            s"(${tombBytes.size} files, " +
            s"${tombBytes.map(_.getName.split("-")(1)).distinct.length} horizons)")
        }
        spark.catalog.clearCache()
        var aEdges = 0L
        time("v22 aged-members graph serve (anti-join + re-rank)") {
          aEdges = queries.VectorOps
            .vectorAgeOff(spark, docsDir.toString).count()
        }
        println(s"SCALE v22 served edges over survivors: $aEdges " +
          s"(v19 full graph: $edges)")
        spark.catalog.clearCache()
        time("v22 COMPACT (fold both horizon generations)") {
          queries.DedupOps.compactTombstoneIndex(spark, out,
            idCol = "vec_id")
        }
        spark.catalog.clearCache()
        time("v22 serve after compaction (plain members scan)") {
          noop(queries.VectorOps.vectorAgeOff(spark, docsDir.toString))
        }
      }
    }
    }

    // ------------------------------------------- live per-job timeline
    // The 100-log slice run as a REAL stream through the per-job keyed
    // state + signed-delta aggregation (Update mode → noop sink, the
    // deployment path — no driver-memory sink), measured next to the
    // batch sweep-line's slice row in BASELINE.md. Records are staged
    // once to parquet with the same ` .\n` framing + byte-offset
    // line_no a live file/Kafka source would carry (a streamable
    // store; the text source itself cannot deliver stable offsets).
    if (in("all", "stream")) {
      import org.apache.spark.sql.streaming.Trigger
      spark.catalog.clearCache()
      val recDir = Paths.get("target", "scale_stream_records").toAbsolutePath
      val haveRecs = Files.isDirectory(recDir) &&
        recDir.toFile.list().exists(_.endsWith("_SUCCESS"))
      if (!haveRecs) time("stage 100-log slice as records parquet") {
        jobhistory.JobHistoryReader
          .readRaw(spark, s"$fleetDir/log-000*.txt")
          .write.mode(SaveMode.Overwrite).parquet(recDir.toString)
      }
      def runTimelineStream(tag: String): Unit = {
        val ckpt = Paths.get("target",
          s"scale_stream_ckpt_${System.nanoTime()}").toAbsolutePath
        try {
          time(s"fleet timelineStreamPerJob (100-log slice, $tag)") {
            val stream = spark.readStream
              .schema(spark.read.parquet(recDir.toString).schema)
              .parquet(recDir.toString)
            val q = jobhistory.Streaming
              .timelineStreamPerJob(jobhistory.Streaming.parseRecords(stream))
              .writeStream.format("noop")
              .option("checkpointLocation", ckpt.toString)
              .outputMode("update").trigger(Trigger.AvailableNow()).start()
            q.awaitTermination()
            Option(q.lastProgress).foreach(_.stateOperators.foreach { so =>
              println(s"SCALE   state op ${so.operatorName}: " +
                s"rows=${so.numRowsTotal} mem=${so.memoryUsedBytes}B")
              // the provider's own telemetry (for RocksDB: pinned
              // block-cache memory vs SST bytes on disk — the split
              // that keeps 10× this state out of executor heap)
              val cm = so.customMetrics
              if (!cm.isEmpty) {
                val keep = Seq("rocksdbTotalMemoryUsageBytes",
                  "rocksdbSstFileSize", "rocksdbTotalSSTFilesBytes",
                  "loadedMapCacheHitCount", "stateOnCurrentVersionSizeBytes")
                val picked = keep.flatMap(k =>
                  Option(cm.get(k)).map(v => s"$k=$v"))
                if (picked.nonEmpty)
                  println(s"SCALE     provider metrics: " +
                    picked.mkString(" "))
              }
            })
          }
        } finally {
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
          }
          rm(ckpt.toFile)
        }
      }
      runTimelineStream("default state store")
      // the same stream under the DEPLOYMENT state backend: RocksDB
      // keeps per-partition state on local disk with bounded
      // block-cache memory — the config once aggregation state
      // outgrows executor heap (this stream measured ~1.35 GB on the
      // in-memory store). Results are provider-invariant (s12 gates
      // that at sf0.01); this row records the provider's cost and
      // memory/disk split at fleet scale.
      locally {
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev =
          try Some(spark.conf.get(key)) catch { case _: Exception => None }
        spark.conf.set(key,
          "org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider")
        try runTimelineStream("RocksDB state store")
        finally prev match {
          case Some(p) => spark.conf.set(key, p)
          case None => spark.conf.unset(key)
        }
      }
    }

    // ---------------------------------------------- restart at scale
    // s10 restart recovery at FLEET scale (`phase=restart`): the gate
    // (StreamingOps.streamedRestart) proves the exactly-once property
    // at sf0.01; this measures what production cares about over the
    // 10 M-event corpus — how long the RESTARTED query takes (state
    // restore + delta-only processing) and how much durable state it
    // restores. The corpus splits by time at the midpoint into a flat
    // directory of `a-*`/`b-*` parquet files (PARTITIONED write, part
    // files renamed — no single-task coalesce at this size); run 1
    // checkpoints a tumbling-window aggregation over the a-files to
    // completion, the query object is discarded (the "crash"), run 2
    // restarts from the SAME checkpoint over the widened glob. The
    // committed file log makes run 2 read ONLY the b-files, so its
    // wall should land near run 1's half-corpus cost — NOT the
    // uninterrupted full run's (also measured, as the anchor).
    if (in("all", "restart")) {
      import org.apache.spark.sql.streaming.Trigger
      spark.catalog.clearCache()
      val nEvents = ensureEventsCorpus()
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
      }
      // keyed by the events-corpus fingerprint (the stageRestartFixture
      // idiom): docsDir is shared across ScaleDemo runs, so a re-run
      // with a different `copies` regenerates events.parquet — a bare
      // un-keyed marker would then silently measure the restart walls
      // over STALE tranches while printing the new corpus's nEvents
      val trHex = java.security.MessageDigest.getInstance("MD5")
        .digest((evParquet.toString + "@" +
          queries.DedupOps.pathFingerprint(spark, evParquet.toString))
          .getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString
      val trDir = docsDir.resolve(s"restart_tranches_$trHex")
      // sweep the legacy un-keyed dir and superseded hash-keyed
      // siblings (stale fingerprints) UNCONDITIONALLY — they are never
      // read again, and a box whose current fixture is already staged
      // would otherwise keep one ~full copy of the old events table
      // per regeneration forever
      Option(docsDir.toFile.listFiles()).foreach(
        _.filter(f => f.getName.startsWith("restart_tranches") &&
            f.toPath.toAbsolutePath != trDir.toAbsolutePath)
          .foreach(rm))
      if (!Files.exists(trDir.resolve("_STAGED")))
        time("stage restart tranches (time-split events)") {
          rm(trDir.toFile)
          Files.createDirectories(trDir)
          val ev = spark.read.parquet(evParquet.toString)
          val Array(lo, hi) = ev.agg(min(col("ts")), max(col("ts")))
            .head().toSeq.map(_.asInstanceOf[Long]).toArray
          val cut = lo + (hi - lo) / 2
          Seq("a" -> ev.filter(col("ts") <= cut),
              "b" -> ev.filter(col("ts") > cut)).foreach { case (tag, half) =>
            val tmp = trDir.resolve(s"tmp_$tag")
            half.repartition(8).write
              .mode(SaveMode.Overwrite).parquet(tmp.toString)
            queries.Generations.install(tmp, trDir, s"$tag-")
          }
          Files.write(trDir.resolve("_STAGED"), Array.emptyByteArray)
        }
      val schema = spark.read.parquet(trDir.toString).schema
      def tranche(glob: String) =
        spark.readStream.schema(schema)
          .option("pathGlobFilter", glob).parquet(trDir.toString)
          .select(col("ts"), col("event_type"), col("value"))
      def runOnce(glob: String, ckpt: java.nio.file.Path)
          : org.apache.spark.sql.streaming.StreamingQuery = {
        val q = streaming.EventWindows.windowedCounts(tranche(glob))
          .writeStream.format("noop").outputMode("update")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(); q
      }
      def du(p: java.io.File): Long =
        if (p.isFile) p.length
        else Option(p.listFiles()).map(_.map(du).sum).getOrElse(0L)
      val ckpt = docsDir.resolve(s"restart_ckpt_${System.nanoTime()}")
      val ckptFull = docsDir.resolve(s"restart_full_${System.nanoTime()}")
      try {
        time(s"s10 run 1: tranche A under checkpoint (~${nEvents / 2} events)") {
          runOnce("a-*.parquet", ckpt)
        }
        println(s"SCALE   durable state after run 1 (checkpoint state dir): " +
          s"${du(ckpt.resolve("state").toFile)} B")
        time("s10 run 2: RESTART from checkpoint, widened glob (delta-only)") {
          val q = runOnce("*.parquet", ckpt)
          Option(q.lastProgress).foreach(_.stateOperators.foreach(so =>
            println(s"SCALE   restored state op: rows=${so.numRowsTotal} " +
              s"mem=${so.memoryUsedBytes}B")))
        }
        spark.catalog.clearCache()
        time(s"s10 anchor: uninterrupted full run ($nEvents events)") {
          runOnce("*.parquet", ckptFull)
        }
      } finally {
        rm(ckpt.toFile); rm(ckptFull.toFile)
      }
    }

    // ---------------------------------------- summaryPerJob decomposed
    // Is the fleet summary parse-bound or aggregation-bound? Three
    // numbers: (1) the parsed-events view noop-sunk alone from cold =
    // the 16 GB parse-scan floor (includes the cache build the cold
    // summary also pays); (2) the two keyed aggregations re-run on the
    // now-cached parse = the aggregation-only cost; (3) the cold
    // end-to-end summary for the total. (1) + (2) ≈ (3) closes the
    // decomposition; the verdict sentence lands in BASELINE.md.
    if (in("all", "profile")) {
      spark.catalog.clearCache()
      val vp = jobhistory.JobHistoryViews.fromFile(spark, s"$fleetDir/*.txt")
      time(s"profile parse-scan alone ($actualLogs jobs, events noop)") {
        noop(vp.events)
      }
      time("profile summaryPerJob aggregations on cached parse") {
        noop(jobhistory.Reports.summaryPerJob(vp))
      }
      spark.catalog.clearCache()
      val vc = jobhistory.JobHistoryViews.fromFile(spark, s"$fleetDir/*.txt")
      time(s"profile summaryPerJob cold ($actualLogs jobs, parse + aggs)") {
        noop(jobhistory.Reports.summaryPerJob(vc))
      }
    }
    spark.stop()
  }
}
