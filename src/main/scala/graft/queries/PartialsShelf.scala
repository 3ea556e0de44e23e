package graft.queries

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

import graft.Tables

/** A PARTIALS shelf: per-key partial aggregates of the events table,
  * persisted so that a refresh merges them with the delta's partials
  * instead of re-scanning history. A partial is a compact mergeable
  * summary standing in for its raw rows, so every verb below is
  * semantics-free exactly when the kind's merge is associative:
  *
  *  - [[PartialsShelf.Sum]]: counts and value summed in integer CENTS
  *    (`round(value·100)` as BIGINT). A double sum depends on addition
  *    order; cent integers make history + delta equal the single-pass
  *    sum exactly, and make the sum INVERTIBLE — a deletion is an
  *    append of negated partials ([[PartialsShelf.retract]]).
  *  - [[PartialsShelf.Sketch]]: one DataSketches HLL sketch per key
  *    (`hll_sketch_agg` at lgConfigK = 12, ≤ ~2.5 KB per key). Union
  *    distributes exactly over set union, so merged sketches estimate
  *    bit-identically to single-pass sketching; but union is a
  *    per-register max and cannot forget, so deletion RE-SKETCHES the
  *    affected keys' survivors ([[PartialsShelf.resketch]]).
  *
  * A kind value holds only what varies between the two:
  *  - `partial`: the per-key partial of a slice of events;
  *  - `fold`: partials → one partial per key, what a compaction writes;
  *  - `serve`: partials → the published per-key result.
  *
  * The verbs are written once over it; each registry gate is a
  * [[PartialsShelf.Entry]] on its own artifact copy (gates never share
  * a mutable artifact, so they stay order-independent). */
private[graft] final case class PartialsShelf(
    partial: DataFrame => DataFrame,
    fold: DataFrame => DataFrame,
    serve: DataFrame => DataFrame)

private[graft] object PartialsShelf {

  /** `hll_sketch_agg`'s register-count exponent. The audit bound
    * derives from it, so retuning the sketch retunes the gate. */
  val LgConfigK = 12

  /** The audit bound: 3 × the HLL standard error at [[LgConfigK]]
    * (RSE = 1.04/√2¹² ≈ 1.63 %), ~99.7 % per key. The sketch is
    * deterministic per dataset, so the gate never flakes across runs of
    * one fixture; a REGENERATED fixture re-rolls the per-key error,
    * with roughly a 1 % chance that one of 5 keys lands outside 3σ.
    * That is the trade for a bound tight enough to catch a merge bug;
    * the merge's exactness itself is pinned bit-identically in
    * SketchGateSpec, which tells a regeneration roll from a defect. */
  private val RelErr: Double = 3d * 1.04 / math.sqrt(1L << LgConfigK)

  /** A fully-retracted key nets to `n_events = 0` and must drop: a
    * group with no surviving rows does not exist (SQL semantics), and
    * a compaction keeps it as an explicit zero row. */
  val Sum: PartialsShelf = PartialsShelf(
    _.select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("pn"), sum(col("cents")).as("pc")),
    _.groupBy(col("event_type"))
      .agg(sum(col("pn")).as("pn"), sum(col("pc")).as("pc")),
    _.groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n_events"),
        round(sum(col("pc")).cast("double") / 100d, 2).as("sum_value"))
      .orderBy(col("event_type"))
      .filter(col("n_events") > 0))

  val Sketch: PartialsShelf = PartialsShelf(
    _.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), LgConfigK).as("sk")),
    _.groupBy(col("event_type"))
      .agg(hll_union_agg(col("sk")).as("sk")),
    _.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est")))

  /** What an entry's [[stage]] does after the build. */
  sealed trait Verb
  /** Read-only history: each serve merges the delta past `_CUT` on
    * read, so its gate exercises a real delta merge every run. */
  case object Frozen extends Verb
  case object Append extends Verb
  case object Compact extends Verb
  /** Retract the bad-ingest [[window]]. */
  case object Retract extends Verb
  /** Re-sketch the [[window]]'s affected keys. */
  case object Resketch extends Verb
  /** Age off at the two persisted `_HORIZONS`. */
  case object AgeOff extends Verb
  /** Re-sketch mid-ingest, then append the later tranche through the
    * replacement-aware path. */
  case object ResketchAppend extends Verb
  /** [[ResketchAppend]], then the replacement-aware compaction. */
  case object ResketchCompact extends Verb
  /** Erase a list of users ([[erase]]). */
  case object Erase extends Verb

  /** One artifact copy: the registry queries it serves (none for t47's
    * sum leg, which its fan-out stages), its directory prefix, its kind
    * and its verb. */
  final case class Entry(queries: Seq[String], prefix: String,
      kind: PartialsShelf, verb: Verb)

  val q33 = Entry(Seq("q33_incremental_agg", "q33_incremental_agg_sql"),
    "q33_hist", Sum, Frozen)
  val q34 = Entry(Seq("q34_incremental_distinct"), "q34_hll", Sketch, Frozen)
  val q35 = Entry(Seq("q35_agg_append"), "q35agg_rw", Sum, Append)
  val q36 = Entry(Seq("q36_sketch_append"), "q36hll_rw", Sketch, Append)
  val q37 = Entry(Seq("q37_partials_compact", "q37_partials_compact_sql"),
    "q37agg_rw", Sum, Compact)
  val q38 = Entry(Seq("q38_sketch_compact"), "q38hll_rw", Sketch, Compact)
  val q39 = Entry(Seq("q39_agg_retract"), "q39agg_rw", Sum, Retract)
  val q40 = Entry(Seq("q40_sketch_retract"), "q40hll_rw", Sketch, Resketch)
  val q41 = Entry(Seq("q41_agg_ageoff"), "q41agg_rw", Sum, AgeOff)
  val q42 = Entry(Seq("q42_resketch_append"), "q42hll_rw", Sketch,
    ResketchAppend)
  val q43 = Entry(Seq("q43_resketch_compact"), "q43hll_rw", Sketch,
    ResketchCompact)
  val q44 = Entry(Seq("q44_agg_takedown"), "q44agg_rw", Sum, Erase)
  val t47 = Entry(Nil, "t47agg_rw", Sum, Erase)

  val entries: Seq[Entry] =
    Seq(q33, q34, q35, q36, q37, q38, q39, q40, q41, q42, q43, q44, t47)

  /** Where entry `e`'s artifact lives, keyed by the events table's
    * layout digest. An [[Erase]] entry's key also carries the erasure
    * fingerprint RULE: a retraction re-applied under a re-tagged list
    * would subtract twice (the sum shelf is not idempotent like the
    * member shelves' anti-join), so a rule change rebuilds instead. An
    * appending entry's key also says its build persists `_HI`. */
  def path(s: SparkSession, dir: String, e: Entry): Path = {
    val rule = if (e.verb == Erase) s"${DedupOps.erasureFpRule}:" else ""
    val hi = if (e.verb == Frozen) "" else "hi:"
    DedupOps.artifactDir(e.prefix, s"${e.prefix.replace("_", "")}:" +
      s"$hi$rule$dir@${Relational.layoutHex(s, dir, "events")}")
  }

  private def events(s: SparkSession, dir: String): DataFrame =
    DedupOps.readStable(s, s"$dir/events.parquet")

  /** A `ts` cut as SQL text in the parquet column's NATIVE type
    * (BIGINT nanos or TIMESTAMP): a predicate over the normalized ts
    * is an expression over the column and never reaches PushedFilters;
    * the native-typed literal folds and pushes. Micros files compare
    * at cut DIV 1000, exact because every micros value m satisfies
    * m·1000 > cut ⟺ m > cut DIV 1000 (and the ≤ complement likewise). */
  def tsCutSql(raw: DataFrame, cutNanos: Long): String =
    raw.schema("ts").dataType match {
      case LongType => cutNanos.toString
      case TimestampNTZType =>
        s"timestampadd(MICROSECOND, ${cutNanos / 1000}, " +
          "CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ))"
      case _ => s"timestamp_micros(${cutNanos / 1000})"
    }

  private def tsCutLit(raw: DataFrame, cutNanos: Long): Column =
    expr(tsCutSql(raw, cutNanos))

  /** The events' `(min ts, max ts)` in epoch nanos: the one bounds scan,
    * paid at build or at a verb's first application, never per serve. */
  private def span(s: SparkSession, dir: String): (Long, Long) = {
    val r = Tables(s, dir, "events").agg(min(col("ts")), max(col("ts")))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Values derived from the span once and persisted as `out/name`, so
    * steady serves never re-scan for bounds (in production they arrive
    * from the retention policy or the ingest log). Written by rename,
    * so a crash never leaves a torn file. */
  private def spanMark(s: SparkSession, dir: String, out: Path,
      name: String)(f: (Long, Long) => Seq[Long]): Seq[Long] = {
    val p = out.resolve(name)
    if (!Files.exists(p)) {
      val (lo, hi) = span(s, dir)
      val tmp = out.resolve(s"$name.tmp")
      Files.write(tmp, f(lo, hi).mkString(" ").getBytes("UTF-8"))
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
    }
    new String(Files.readAllBytes(p), "UTF-8").trim.split("\\s+")
      .map(_.toLong).toSeq
  }

  /** The deterministic bad-ingest window `(lo + 2/5·span, lo + 3/5·span]`
    * in epoch nanos, pure Long arithmetic: the oracles compute the
    * same bounds with DuckDB's `epoch_ns` and integer `//`. Persisted
    * on entry `e`'s built artifact as `_WINDOW`, so a warm serve never
    * re-scans the events for bounds. In production the window is an
    * input (the known-bad span). */
  def window(s: SparkSession, dir: String, e: Entry): Column = {
    val raw = events(s, dir)
    val Seq(a, b) = spanMark(s, dir, path(s, dir, e), "_WINDOW")(
      (lo, hi) => Seq(lo + (hi - lo) * 2 / 5, lo + (hi - lo) * 3 / 5))
    col("ts") > tsCutLit(raw, a) && col("ts") <= tsCutLit(raw, b)
  }

  /** The hash-even half of the key space ("the bad ingest came from
    * source X"): q42/q43 retract only these keys' window rows, so the
    * untouched-key append path is exercised too. */
  def evenKey: Column =
    expr("CAST(conv(substr(md5(event_type), 1, 8), 16, 10) AS BIGINT) " +
      "% 2 = 0")

  /** BUILD entry `e`'s artifact under the nonce-marker contract: the
    * history tranche (ts ≤ the span's midpoint) folded through the
    * kind's partial, plus the `_CUT` watermark and the span's `_HI`. */
  def build(s: SparkSession, dir: String, e: Entry): Path = {
    val out = path(s, dir, e)
    DedupOps.ensureArtifact(out) {
      val raw = events(s, dir)
      val (lo, hi) = span(s, dir)
      val cut = (lo + hi) / 2
      e.kind.partial(raw.filter(col("ts") <= tsCutLit(raw, cut)))
        .write.mode("overwrite").parquet(out.resolve("partials").toString)
      Files.write(out.resolve("_CUT"), cut.toString.getBytes("UTF-8"))
      Files.write(out.resolve("_HI"), hi.toString.getBytes("UTF-8"))
    }
    out
  }

  /** BUILD entry `e` if it is not yet, then APPEND the tranche
    * `(_CUT, upTo]` as an `append-<cut>-` generation and advance
    * `_CUT`. The delta's high-watermark comes from the pushed delta
    * scan only; an absorbed tranche is a no-op with the nonce
    * untouched and no Spark job. Returns the cut after the call.
    *
    * Once a `resketch-*` generation exists, the replacement-preferring
    * read ([[partials]]) drops every other generation's rows of the
    * keys in `resketch_keys`, so a plain append of an affected key's
    * delta would be silently lost. A plain append therefore REFUSES;
    * `aware = true` splits the delta instead: untouched keys land as
    * the `append-*` generation and affected keys as one more
    * `resketch-*` generation, moved in inside the same commit window.
    * HLL union makes that exact: resketch(survivors ≤ cut) ∪
    * sketch((cut, hi]) ≡ sketch(every surviving event of the key). */
  def append(s: SparkSession, dir: String, e: Entry,
      upTo: Long = Long.MaxValue, aware: Boolean = false): Long = {
    val raw = events(s, dir)
    val out = build(s, dir, e)
    DedupOps.artifactLock(out).synchronized { DedupOps.retryOnConflict() {
      DedupOps.absorbedCut(out, upTo).getOrElse {
        val cut = DedupOps.cutOf(out)
        // the upper bound is skipped at Long.MaxValue, which is not
        // representable as a timestamp
        val lower = col("ts") > tsCutLit(raw, cut)
        val delta =
          if (upTo == Long.MaxValue) raw.filter(lower)
          else raw.filter(lower && col("ts") <= tsCutLit(raw, upTo))
        val hiRow = Tables.normalizeTs(delta.select(col("ts")))
          .agg(max(col("ts"))).head()
        if (hiRow.isNullAt(0)) cut
        else {
          val newCut = hiRow.getLong(0)
          val keys = DedupOps.replacedKeys(s, out, replaced(s, out))
          require(aware || keys.isEmpty,
            s"$out carries a resketch generation: a plain append of an " +
              "affected key's delta would be silently anti-joined away " +
              "by the replacement-preferring read — use the " +
              "resketch-aware append or land a fresh re-sketch first")
          val part = e.kind.partial(delta)
          val tmp = out.resolve("partials_append")
          val tmpA = out.resolve("partials_resketch_append")
          keys.fold(part)(part.join(_, Seq("event_type"), "left_anti"))
            .write.mode("overwrite").parquet(tmp.toString)
          keys.foreach(part.join(_, Seq("event_type"), "left_semi")
            .write.mode("overwrite").parquet(tmpA.toString))
          // install clears a crashed retry's half-moved generation
          // first (commitArtifactAppend's delete-then-move rule)
          DedupOps.commitArtifactAppend(out, tmp, newCut, rel = "partials",
            beforeReady = () => if (keys.nonEmpty) Generations.install(tmpA,
              out.resolve("partials"), Generations.prefix("resketch", newCut)),
            expectedCut = cut)
          newCut
        }
      }
    } }
  }

  /** RETRACT from a sum entry: commit the NEGATED partials of `rows` as
    * a `<kind>-<cut>-` generation at the UNCHANGED watermark, so the
    * ordinary merge-on-read nets them out. The cost is one scan of the
    * retracted rows (their bounds push to the scan), never a rebuild.
    *
    * `due` gets the content of `marker` (None when absent) and says
    * whether the retraction is still to apply; the marker is then
    * written as `body` INSIDE the commit window (`beforeReady`), so no
    * reachable state holds the generation committed-and-ready but
    * unmarked — a retry after a compaction folded it would otherwise
    * subtract twice. The commit is conditional on `_CUT`, so a
    * concurrent append is never regressed. */
  def retract(s: SparkSession, dir: String, e: Entry, kind: String,
      marker: String, body: String = "1",
      due: Option[String] => Boolean = _.isEmpty)(
      rows: Option[String] => DataFrame): Unit = {
    val out = path(s, dir, e)
    DedupOps.artifactLock(out).synchronized { DedupOps.retryOnConflict() {
      val mk = out.resolve(marker)
      val prev = if (Files.exists(mk))
        Some(new String(Files.readAllBytes(mk), "UTF-8").trim) else None
      if (due(prev)) {
        val tmp = out.resolve("partials_retract")
        e.kind.partial(rows(prev))
          .select(col("event_type"), (-col("pn")).as("pn"),
            (-col("pc")).as("pc"))
          .write.mode("overwrite").parquet(tmp.toString)
        val cut = DedupOps.cutOf(out)
        DedupOps.commitArtifactAppend(out, tmp, cut, rel = "partials",
          kind = kind, beforeReady = () => {
            Files.write(mk, body.getBytes("UTF-8")); ()
          }, expectedCut = cut)
      }
    } }
  }

  /** AGE OFF the events at or below `horizon`: retract only the
    * `(previous horizon, horizon]` increment as an `ageoff<horizon>-*`
    * generation and record the horizon in `_AGEOFF`. A horizon at or
    * below the recorded one is a no-op. */
  def ageOff(s: SparkSession, dir: String, e: Entry, horizon: Long): Unit =
    retract(s, dir, e, s"ageoff$horizon", "_AGEOFF", horizon.toString,
        _.forall(_.toLong < horizon)) { prev =>
      val raw = events(s, dir)
      val upper = col("ts") <= tsCutLit(raw, horizon)
      raw.filter(prev.fold(upper)(p =>
        col("ts") > tsCutLit(raw, p.toLong) && upper))
    }

  /** ERASE the listed users' events as a `retractx<tag>-*` generation,
    * once per `tag` (`_ERASED_<tag>`): a second, different list lands
    * beside the first, a re-submitted one is a no-op. The list is
    * request-sized, so it is broadcast into a semi join and the events
    * side never shuffles. */
  def erase(s: SparkSession, dir: String, e: Entry, list: DataFrame,
      tag: String): Unit =
    retract(s, dir, e, s"retractx$tag", s"_ERASED_$tag")(_ =>
      events(s, dir).join(broadcast(list.select(col("user_id"))),
        Seq("user_id"), "left_semi"))

  /** RE-SKETCH a sketch entry's affected keys — the keys with an event
    * matching `affected` — over their surviving events up to `_CUT`
    * (what the artifact absorbed; later tranches arrive through the
    * aware [[append]]). The sketches commit as a `resketch-*`
    * generation that [[partials]] prefers over every other
    * generation's rows of those keys; the key list `resketch_keys` is
    * written inside the commit window, so a fully-retracted key's stale
    * sketch can never ghost back. Untouched keys' sketches are never
    * rewritten. Cost is O(affected keys' history), the honest price of
    * a monotone summary. `_RESKETCHED`-idempotent. */
  def resketch(s: SparkSession, dir: String, e: Entry,
      affected: => Column): Unit = {
    val out = path(s, dir, e)
    DedupOps.artifactLock(out).synchronized { DedupOps.retryOnConflict() {
      val marker = out.resolve("_RESKETCHED")
      if (!Files.exists(marker)) {
        val raw = events(s, dir)
        val p = affected
        val keys = raw.filter(p).select(col("event_type")).distinct()
        val cut = DedupOps.cutOf(out)
        val tmp = out.resolve("partials_resketch")
        e.kind.partial(raw.filter(col("ts") <= tsCutLit(raw, cut) && !p)
            .join(keys, Seq("event_type"), "left_semi"))
          .write.mode("overwrite").parquet(tmp.toString)
        DedupOps.commitArtifactAppend(out, tmp, cut, rel = "partials",
          kind = "resketch", beforeReady = () => {
            keys.coalesce(1).write.mode("overwrite")
              .parquet(out.resolve("resketch_keys").toString)
            Files.write(marker, "1".getBytes("UTF-8")); ()
          }, expectedCut = cut)
      }
    } }
  }

  /** q42's mid-ingest retraction: history appended only up to the
    * persisted `_TRANCHE` cut (`lo + 7·span/10`, above the window),
    * then the hash-even keys' window rows re-sketched — so a later
    * tranche still has to arrive through the aware append. */
  def resketchMidIngest(s: SparkSession, dir: String, e: Entry): Unit = {
    append(s, dir, e, spanMark(s, dir, build(s, dir, e), "_TRANCHE")(
      (lo, hi) => Seq(lo + (hi - lo) * 7 / 10)).head)
    resketch(s, dir, e, window(s, dir, e) && evenKey)
  }

  /** `partials` with its replacement side: `resketch-*` generations
    * replace the rows of the keys in `resketch_keys`. The schema is the
    * one [[DedupOps.readStable]] memoizes for the directory. */
  private def replaced(s: SparkSession, out: Path): DedupOps.Replaced =
    DedupOps.Replaced("partials", "resketch_keys", "event_type", "resketch-",
      DedupOps.readStable(s, out.resolve("partials").toString).schema)

  /** The partials relation entry `e` serves from its ready artifact:
    * every generation, except that while `resketch_keys` exists the
    * `resketch-*` generations REPLACE their keys' rows in all others
    * ([[DedupOps.readReplaced]]). */
  def partials(s: SparkSession, out: Path): DataFrame =
    DedupOps.readReplaced(s, DedupOps.requireReady(out), replaced(s, out))

  /** COMPACT entry `e`'s artifact into one `compact-*` generation,
    * `_CUT` untouched, invisible in the result because the kind's fold
    * is associative. While `resketch_keys` exists the fold reads
    * [[partials]] and retires the key list inside the same mutation
    * window ([[DedupOps.compactArtifact]]): plain appends are legal
    * again, while `_RESKETCHED` survives so the retraction never
    * re-runs. False when there is nothing to fold. */
  def compact(s: SparkSession, dir: String, e: Entry): Boolean = {
    val out = path(s, dir, e)
    DedupOps.compactArtifact(s, out, rel = "partials",
      replaced = replaced(s, out))(e.kind.fold)
  }

  /** Entry `e`'s maintenance path: build, then its verb. An [[Erase]]
    * entry erases `erasures` under `tag`, by default the staged
    * `q44_erasures` list under its content fingerprint (a re-staged
    * byte-identical list stays the SAME erasure). Every step is
    * idempotent, so a bench pre-stager runs it and the timed reps
    * measure [[served]] alone. */
  def stage(s: SparkSession, dir: String, e: Entry,
      erasures: DataFrame = null, tag: String = null): Path = {
    val out = build(s, dir, e)
    e.verb match {
      case Frozen => ()
      case Append => append(s, dir, e)
      case Compact => append(s, dir, e); compact(s, dir, e)
      case Retract =>
        append(s, dir, e)
        retract(s, dir, e, "retract", "_RETRACTED")(_ =>
          events(s, dir).filter(window(s, dir, e)))
      case Resketch =>
        append(s, dir, e); resketch(s, dir, e, window(s, dir, e))
      case AgeOff =>
        append(s, dir, e)
        spanMark(s, dir, out, "_HORIZONS")((lo, hi) =>
          Seq(lo + (hi - lo) / 4, lo + (hi - lo) / 2))
          .foreach(ageOff(s, dir, e, _))
      case ResketchAppend | ResketchCompact =>
        resketchMidIngest(s, dir, e)
        append(s, dir, e, aware = true)
        if (e.verb == ResketchCompact) compact(s, dir, e)
      case Erase =>
        append(s, dir, e)
        val list = Option(erasures).getOrElse(DedupOps.readStable(s,
          DedupOps.stageErasures(s, dir, "events", "user_id")
            .resolve("erasures").toString))
        erase(s, dir, e, list, Option(tag).getOrElse(
          DedupOps.erasureFingerprint(list, idCol = "user_id")))
    }
    out
  }

  /** Entry `e`'s served result from its artifact alone; a [[Frozen]]
    * entry also merges the delta past `_CUT`, its only corpus-side work
    * being that pushed delta scan. */
  def served(s: SparkSession, dir: String, e: Entry): DataFrame = {
    val out = path(s, dir, e)
    if (e.verb != Frozen) e.kind.serve(partials(s, out))
    else {
      val raw = events(s, dir)
      e.kind.serve(partials(s, out).unionAll(e.kind.partial(
        raw.filter(col("ts") > tsCutLit(raw, DedupOps.cutOf(out))))))
    }
  }

  /** Entry `e`'s maintenance, then its served result. */
  def serve(s: SparkSession, dir: String, e: Entry,
      erasures: DataFrame = null, tag: String = null): DataFrame = {
    stage(s, dir, e, erasures, tag)
    served(s, dir, e)
  }

  /** The sketch entries' gate: the EXACT distinct counts over the
    * events that survive `removed` (the oracle-hashed comparator;
    * DuckDB cannot reproduce the DataSketches register layout) beside
    * `within_err`, whether each merged estimate sits inside [[RelErr]];
    * an estimate outside its bound flips the column and fails the hash
    * gate loudly. A fully-retracted key appears on neither side. */
  def audit(s: SparkSession, dir: String, est: DataFrame,
      removed: Column): DataFrame =
    events(s, dir).filter(!removed)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
      .join(est, Seq("event_type"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("est") - col("n_exact")).cast("double") <=
          lit(RelErr) * col("n_exact").cast("double")).as("within_err"))
      .orderBy(col("event_type"))
}
