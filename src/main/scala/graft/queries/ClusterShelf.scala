package graft.queries

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** The CLUSTER shelf: connected components of the bucket graph — two
  * docs are adjacent iff they share a `(band, sig)` LSH bucket
  * ([[DedupOps.bucketStarEdges]]) — maintained in place. An artifact
  * holds the unfolded `(band, sig, doc_id)` members (what a later
  * batch probes for cross edges), the converged `(node, label)`
  * relation (label = the component's min doc id; singletons carry no
  * row, t13's rule) and the `_CUT` watermark.
  *
  * Labels only DECREASE under appends, so an append lands one new
  * `labels` generation and the read min-folds per node ([[fold]]). A
  * deletion can SPLIT a component and RAISE labels, which no min fold
  * expresses: a forget re-derives the affected components over their
  * survivors and lands them as a `relabel-*` REPLACEMENT generation
  * beside the key list `relabel_nodes`, and the read prefers it
  * ([[DedupOps.readReplaced]]). One replacement is active at a time;
  * [[compact]] bakes it into a fresh base.
  *
  * The verbs are written once; each registry gate and each stream gate's
  * pristine base is an [[ClusterShelf.Entry]] on its own artifact copy
  * (gates never share a mutable artifact, so they stay
  * order-independent). */
private[graft] object ClusterShelf {

  /** What an entry's [[stage]] does after the build. */
  sealed trait Verb
  /** Read-only: a stream gate's pristine base, copied per invocation. */
  case object Frozen extends Verb
  case object Append extends Verb
  /** Append, then forget every cluster's canon. */
  case object Forget extends Verb
  /** [[Forget]], then [[compact]]. */
  case object Compact extends Verb
  /** Append, then age off at `T41H1` and at `T41H2`, compacting after
    * each. */
  case object TimeAgeOff extends Verb
  /** Append, then forget the staged external erasure list. */
  case object External extends Verb

  /** One artifact copy: the registry queries it serves, its tag (the
    * directory prefix is `cc_index_<tag>`), its verb, and whether its
    * members carry the derived `ingest_ts` an event-time age-off
    * reads. */
  final case class Entry(queries: Seq[String], tag: String, verb: Verb,
      withTs: Boolean = false)

  val t42 = Entry(Seq("t42_cc_incremental"), "t42", Append)
  val t43 = Entry(Seq("t43_cc_forget"), "t43", Forget)
  val t44 = Entry(Seq("t44_cc_compact"), "t44", Compact)
  val t45 = Entry(Seq("t45_cc_time_ageoff"), "t45", TimeAgeOff, withTs = true)
  /** t47's fan-out runs its cluster leg here, under its own list tag. */
  val t46 = Entry(Seq("t46_cc_takedown_external", "t47_takedown_fanout"),
    "t46", External)
  val s18 = Entry(Seq("s18_stream_clusters"), "s18", Frozen)
  val s19 = Entry(Seq("s19_stream_cluster_retention"), "s19", Frozen)
  val s20 = Entry(Seq("s20_stream_event_retention"), "s20", Frozen,
    withTs = true)

  val entries: Seq[Entry] = Seq(t42, t43, t44, t45, t46, s18, s19, s20)

  /** The `labels` relation's fixed schema, declared on every read: a
    * stream's working copies are fresh paths, where an inferred schema
    * would cost a footer job per call. */
  private val labelsSchema = StructType(Seq(
    StructField("node", LongType, nullable = false),
    StructField("label", LongType, nullable = false)))

  /** `labels` with its replacement side: `relabel-*` generations
    * replace the rows of the nodes in `relabel_nodes`. */
  private val replaced = DedupOps.Replaced("labels", "relabel_nodes", "node",
    "relabel-", labelsSchema)

  /** The label fold: one row per node, its min label. Labels only
    * decrease under merges, so this is every generation's merge and
    * every compaction's fold. */
  val fold: DataFrame => DataFrame =
    _.groupBy(col("node")).agg(min(col("label")).as("label"))

  /** Where entry `e`'s artifact lives, keyed by the documents'
    * fingerprint. The key carries [[DedupOps.erasureFpRule]]: this is
    * the one refusal-capable shelf, so an artifact whose
    * `_FORGOTTEN_<tag>` state was stamped under a prior fingerprint
    * rule must be rebuilt, never re-probed (a new tag finds no marker
    * and hits the "compact first" refusal). An appending entry's key
    * also says its build persists `_HI`. */
  def path(s: SparkSession, dir: String, e: Entry): Path = {
    val hi = if (e.verb == Frozen) "" else "hi:"
    DedupOps.artifactDir(s"cc_index_${e.tag}",
      s"cc${e.tag}:$hi${DedupOps.erasureFpRule}:$dir@" +
        DedupOps.pathFingerprint(s, s"$dir/documents.parquet"))
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  private def banded(d: DataFrame): DataFrame =
    DedupOps.bandedSignaturesOf(d).select(col("band"), col("sig"), col("doc_id"))

  /** BUILD entry `e`'s artifact over the base tranche (ids ≤ the mid
    * cut) under the nonce-marker contract: its members, the labels
    * converged over their bucket graph, `_CUT` and `_HI`, all from one
    * bounds read confined to the build. */
  def build(s: SparkSession, dir: String, e: Entry): Path = {
    val out = path(s, dir, e)
    DedupOps.ensureArtifact(out) {
      val d = docs(s, dir)
      val Array(lo, hi) = d.agg(min(col("doc_id")), max(col("doc_id")))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val cut = (lo + hi) / 2
      val m = banded(d.filter(col("doc_id") <= cut))
      (if (e.withTs) m.withColumn("ingest_ts", expr(DedupOps.t41IngestTs))
       else m).write.mode("overwrite").parquet(out.resolve("members").toString)
      DedupOps.ccConvergedLabelsDf(s, DedupOps.bucketStarEdges(
          s.read.parquet(out.resolve("members").toString)), null)
        .write.mode("overwrite").parquet(out.resolve("labels").toString)
      Files.write(out.resolve("_CUT"), cut.toString.getBytes("UTF-8"))
      Files.write(out.resolve("_HI"), hi.toString.getBytes("UTF-8"))
    }
    out
  }

  /** BUILD entry `e` if it is not yet, then [[absorb]] the tranche
    * `(_CUT, upTo]`. An absorbed tranche is a no-op with no Spark job.
    * Returns the cut after the call. */
  def append(s: SparkSession, dir: String, e: Entry,
      upTo: Long = Long.MaxValue): Long = {
    val out = build(s, dir, e)
    DedupOps.artifactLock(out).synchronized { DedupOps.retryOnConflict() {
      DedupOps.absorbedCut(DedupOps.requireReady(out), upTo).getOrElse {
        val cut = DedupOps.cutOf(out)
        absorb(s, out, docs(s, dir).filter(col("doc_id") <= upTo))
          .getOrElse(cut)
      }
    } }
  }

  /** The current labels of artifact `out`, unfolded and
    * replacement-preferring. */
  def labels(s: SparkSession, out: Path): DataFrame =
    DedupOps.readReplaced(s, out, replaced)

  /** ABSORB `batch` into artifact `out` — the MERGE-GRAPH update, never
    * a rebuild, shared by the batch append and the stream. Rows at or
    * below `_CUT` drop (a re-delivered batch is an exact no-op). The
    * rest band and probe the alive members; each bucket-mate collapses
    * to its CURRENT label (an unlabeled mate is its own), and those
    * cross edges plus the delta's own star edges converge — delta docs
    * and touched labels, never the corpus. Every base label IS its
    * component's min, so the converged label is the merged
    * component's global min: the update is exact. ONE labels
    * generation lands: the delta docs' labels, every base-side node's
    * (an absorbed singleton needs its first row) and a relabel row for
    * every member of a lowered cluster; rows of nodes under an active
    * replacement land on its side (`relabel-a<cut>-`), where a lowering
    * is min-fold-compatible. The delta's members (with `ingest_ts`
    * when the members carry it) move in inside the same commit window.
    *
    * `flags` (when given) gets the batch docs' cluster assignments AT
    * ABSORB TIME, written before the commit (a retried batch rewrites
    * them identically). `knownHi` is the batch's max id when the caller
    * has it; otherwise one agg finds it. Caller holds the artifact
    * lock; readiness is the caller's contract (a stream proceeds on a
    * marker-less working dir mid-replay). Returns the new cut, or None
    * when nothing lies above `_CUT`. */
  def absorb(s: SparkSession, out: Path, batch: DataFrame,
      flags: Path = null, knownHi: Option[Long] = None): Option[Long] = {
    val cut = DedupOps.cutOf(out)
    val delta = batch.filter(col("doc_id") > cut)
    val hiOpt = knownHi match {
      case Some(h) => Some(h).filter(_ > cut)
      case None =>
        val r = delta.agg(max(col("doc_id"))).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    hiOpt.foreach { newCut =>
      // the banding feeds the merge edges, the members write and the
      // generation write: persisted once, dropped before return
      val dm = banded(delta).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val members = DedupOps.aliveMembers(s, out)
        val current = labels(s, out)
        val cross = dm.as("a")
          .join(members.as("b"),
            col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("bm"))
          .join(fold(current).withColumnRenamed("node", "bm"), Seq("bm"),
            "left")
          .select(col("doc_a"), coalesce(col("label"), col("bm")).as("doc_b"))
          .distinct()
        val conv = DedupOps.ccConvergedLabelsDf(s,
          cross.unionAll(DedupOps.bucketStarEdges(dm)), null)
        val deltaRows = conv.filter(col("node") > cut)
          .select(col("node"), col("label"))
        val baseRows = conv.filter(col("node") <= cut)
          .select(col("node"), col("label"))
        val lowered = conv.filter(col("node") <= cut &&
          col("label") < col("node"))
        // stale generations' rows cannot match: a superseded label is
        // never anyone's CURRENT label
        val relabeled = current
          .join(lowered.select(col("node").as("old_label"),
            col("label").as("new_label")), col("label") === col("old_label"))
          .select(col("node"), col("new_label").as("label"))
        val gen = deltaRows.unionAll(baseRows).unionAll(relabeled)
        val keys = DedupOps.replacedKeys(s, out, replaced)
        val genPlain = keys.fold(gen)(gen.join(_, Seq("node"), "left_anti"))
        val genRel = keys.map(gen.join(_, Seq("node"), "left_semi"))
        val dmOut =
          if (members.columns.contains("ingest_ts"))
            dm.withColumn("ingest_ts", expr(DedupOps.t41IngestTs))
          else dm
        val parts = DedupOps.genParts(s)
        val tmp = out.resolve("labels_append")
        val tmpR = out.resolve("labels_append_rel")
        val tmpM = out.resolve("members_append")
        // independent batch-sized writes: overlap their jobs
        DedupOps.parallelWrites(
          Option(flags).toSeq.map(f => () =>
            deltaRows.select(col("node").as("doc_id"),
                col("label").as("cluster_id"))
              .repartition(parts).write.mode("overwrite").parquet(f.toString)) ++
          Seq(() => genPlain.repartition(parts)
            .write.mode("overwrite").parquet(tmp.toString)) ++
          genRel.toSeq.map(g => () => g.repartition(parts)
            .write.mode("overwrite").parquet(tmpR.toString)) :+
          (() => dmOut.coalesce(parts)
            .write.mode("overwrite").parquet(tmpM.toString)))
        DedupOps.commitArtifactAppend(out, tmp, newCut, rel = "labels",
          beforeReady = () => {
            if (genRel.nonEmpty)
              Generations.install(tmpR, out.resolve("labels"),
                Generations.prefix("relabel-a", newCut))
            Generations.install(tmpM, out.resolve("members"),
              Generations.prefix("append", newCut))
          }, expectedCut = cut)
      } finally dm.unpersist(blocking = true)
    }
    hiOpt
  }

  /** FORGET `ids` from artifact `out`, once per `tag`
    * (`_FORGOTTEN_<tag>`):
    *
    *  1. The ids tombstone in `members` ([[DedupOps.applyTakedown]]),
    *     so no later absorb sees a dead doc as a bucket-mate.
    *  2. The AFFECTED components — those whose current label any id
    *     holds — re-converge over their survivors' bucket subgraph
    *     (bucket-mates never cross components, so this is O(affected),
    *     never the corpus; a dead bucket-min re-elects) and land as a
    *     `relabel-f<tag>-` replacement generation, with the affected
    *     nodes as `relabel_nodes`, inside one marker-off window. A
    *     survivor whose only bridge died converges into a smaller
    *     component, or into none.
    *
    * An empty id set (a lagging horizon) writes the marker only: an
    * empty replacement would refuse every later forget for nothing.
    * ONE active replacement at a time: a second forget refuses until
    * [[compact]] — composing raise-capable replacements under a min
    * fold would resurrect lowered labels. */
  def forget(s: SparkSession, out: Path, ids: DataFrame, tag: String): Unit =
    DedupOps.artifactLock(out).synchronized {
      DedupOps.requireReady(out)
      val marker = out.resolve(s"_FORGOTTEN_$tag")
      if (!Files.exists(marker)) {
        if (ids.isEmpty) Files.write(marker, "1".getBytes("UTF-8"))
        else {
          require(!Files.exists(out.resolve("relabel_nodes")),
            s"$out already holds an active relabel replacement: compact " +
              "first (ClusterShelf.compact) — composing raise-capable " +
              "replacements under the min fold would resurrect lowered labels")
          val idNodes = ids.select(col("doc_id").as("node"))
          // the isEmpty probe above proved the ids non-empty
          DedupOps.applyTakedown(s, out, gen = s"f$tag",
            marker = s"_TAKEDOWN_F$tag", knownNonEmpty = true)(
            _ => idNodes.select(col("node").as("doc_id")))
          val folded = fold(labels(s, out))
          val affLabels = folded.join(idNodes, Seq("node"), "left_semi")
            .select(col("label")).distinct()
          // feeds the survivor subgraph AND lands as the key list
          val affNodes = folded.join(affLabels, Seq("label"), "left_semi")
            .select(col("node")).persist(StorageLevel.MEMORY_AND_DISK)
          try {
            val survivors = affNodes.join(idNodes, Seq("node"), "left_anti")
            val relabeled = DedupOps.ccConvergedLabelsDf(s,
              DedupOps.bucketStarEdges(DedupOps.aliveMembers(s, out)
                .join(survivors.withColumnRenamed("node", "doc_id"),
                  Seq("doc_id"), "left_semi")), null)
            DedupOps.withArtifactLease(out) {
              val tmp = out.resolve("labels_relabel")
              val tmpK = out.resolve("relabel_nodes_tmp")
              DedupOps.parallelWrites(Seq(
                () => relabeled.repartition(DedupOps.genParts(s))
                  .write.mode("overwrite").parquet(tmp.toString),
                () => affNodes.coalesce(DedupOps.genParts(s))
                  .write.mode("overwrite").parquet(tmpK.toString)))
              val ready = out.resolve("_INDEX_READY")
              Files.deleteIfExists(ready)
              Generations.install(tmp, out.resolve("labels"),
                Generations.prefix("relabel-f", tag))
              DedupOps.deleteRecursively(out.resolve("relabel_nodes").toFile)
              Generations.install(tmpK, out.resolve("relabel_nodes"), "k")
              Files.write(marker, "1".getBytes("UTF-8"))
              Files.write(ready, System.nanoTime().toString.getBytes("UTF-8"))
            }
          } finally affNodes.unpersist(blocking = true)
        }
      }
      ()
    }

  /** AGE OFF artifact `out` at `horizon`: the docs whose `tsCol`
    * (`ingest_ts` for event time, `doc_id` for an id span) is at or
    * below it, read from the members relation itself, forgotten under
    * the tag `h<horizon>` — a forget, not a plain tombstone, because
    * expiry can split a component and raise labels. Idempotent per
    * horizon; a lagging horizon no-ops; the refusal discipline makes
    * the schedule advance → compact → advance. */
  def ageOff(s: SparkSession, out: Path, horizon: Long,
      tsCol: String = "ingest_ts"): Unit = {
    // the forget's emptiness probe, tombstone write and affected joins
    // share one members scan; the raw relation keeps the plan stable
    // across the forget's own mutations
    val expired = DedupOps.readStable(s, out.resolve("members").toString)
      .filter(col(tsCol) <= horizon)
      .select(col("doc_id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try forget(s, out, expired, s"h$horizon")
    finally expired.unpersist(blocking = true)
  }

  /** FORGET an external id relation under the tag `x<fingerprint>` of
    * its distinct ids ([[DedupOps.erasureFingerprint]], or `tag` when
    * the caller already holds it): a second, different list lands
    * beside the first, a re-submitted one is a marker no-op. Absent ids
    * no-op and repeated ids are idempotent by construction. */
  def external(s: SparkSession, out: Path, list: DataFrame,
      tag: String = null): Unit =
    forget(s, out, list.select(col("doc_id")).distinct(),
      "x" + Option(tag).getOrElse(DedupOps.erasureFingerprint(list)))

  /** COMPACT artifact `out`: the replacement-preferring labels folded
    * into one `compact-<cut>-` generation with `relabel_nodes` retired
    * ([[DedupOps.compactArtifact]]), then the members' tombstones folded
    * away ([[DedupOps.compactTombstoneIndex]]). Appends and a next
    * forget are legal again; the served clusters are unchanged. False
    * when there was nothing to fold. */
  def compact(s: SparkSession, out: Path): Boolean =
    DedupOps.artifactLock(out).synchronized {
      val folded = DedupOps.compactArtifact(s, out, rel = "labels",
        replaced = replaced)(fold)
      DedupOps.compactTombstoneIndex(s, out) || folded
    }

  /** The cluster table artifact `out` serves: the folded current labels
    * through t13/t33's cluster-assembly tail. */
  def served(s: SparkSession, out: Path): DataFrame =
    DedupOps.ccClustersOf(fold(labels(s, out)))

  /** Entry `e`'s maintenance path: build, then its verb (`tag` passes a
    * known erasure fingerprint to the external verb). Every step is
    * idempotent, so a bench pre-stager runs it and the timed reps
    * measure [[served]] alone. */
  def stage(s: SparkSession, dir: String, e: Entry, tag: String = null): Path = {
    val out = build(s, dir, e)
    if (e.verb != Frozen) append(s, dir, e)
    e.verb match {
      case Frozen | Append => ()
      case Forget | Compact =>
        // every cluster's canon: each forget forces a re-election and
        // every component splits, shrinks or vanishes
        forget(s, out, fold(labels(s, out)).filter(col("node") === col("label"))
          .select(col("node").as("doc_id")), "canons")
        if (e.verb == Compact) compact(s, out)
      case TimeAgeOff =>
        // advance → compact per horizon: a replacement left active
        // would be compacted by the next call instead of this one
        Seq(DedupOps.T41H1, DedupOps.T41H2).foreach { h =>
          ageOff(s, out, h); compact(s, out)
        }
      case External =>
        external(s, out, DedupOps.readStable(s,
          DedupOps.stageErasures(s, dir, "documents", "doc_id")
            .resolve("erasures").toString), tag)
    }
    out
  }

  /** Entry `e`'s registry query: stage, then serve. */
  def serve(s: SparkSession, dir: String, e: Entry): DataFrame =
    served(s, DedupOps.requireReady(stage(s, dir, e)))
}
