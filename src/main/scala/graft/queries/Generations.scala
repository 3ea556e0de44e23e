package graft.queries

import java.nio.file.{Files, Path, StandardCopyOption}

/** The generation files of a living artifact — the one place their
  * names are formatted and parsed, and where a written relation lands
  * in an artifact directory. A generation is a set of parquet files
  * `<prefix>NNN.parquet` sharing one prefix:
  *
  *  - `append-<cut>-`: an increment absorbed up to watermark `cut`;
  *  - `compact-<cut>-`: a fold of everything at or below `cut`;
  *  - `retract…-<cut>-`, `ageoff…-<cut>-`: negated partials committed
  *    at an unchanged watermark (the kind carries the request tag);
  *  - `resketch-<cut>-`: replacement sketches preferred on read;
  *  - `delete-<gen>-`: a tombstone generation (`gen` is a free tag);
  *  - `relabel-a<cut>-`, `relabel-c<cut>-`, `relabel-f<tag>-`: the
  *    cluster shelf's replacement side — post-forget absorbs, their
  *    fold, and the forget's own re-derivation.
  *
  * Spark's own `part-*` files are the base a build wrote in place.
  * Plain files only: nothing here needs a Spark session. */
object Generations {

  /** The file-name prefix of generation `tag` of `kind`: `relabel-*`
    * kinds glue the tag on, every other kind dashes it. */
  def prefix(kind: String, tag: Any): String =
    if (kind.startsWith("relabel-")) s"$kind$tag-" else s"$kind-$tag-"

  private val Relabel = """(relabel-[acf])(.+)-(\d{3,})\.parquet""".r
  private val Dashed = ("""(append|compact|resketch|delete|retract\w*|""" +
    """ageoff\w*)-(.+)-(\d{3,})\.parquet""").r

  /** `(kind, tag)` of a generation file name; None for anything else
    * (`part-*` base files, markers, checksums). */
  def parse(name: String): Option[(String, String)] = name match {
    case Relabel(kind, tag, _) => Some((kind, tag))
    case Dashed(kind, tag, _) => Some((kind, tag))
    case _ => None
  }

  /** The watermark an increment of `kind` carries, if `name` is one. */
  private def cutOf(name: String, kind: String): Option[Long] =
    parse(name).collect { case (`kind`, tag) => tag.toLong }

  /** The two sides a fenced fold compacts. Each has a base (what a
    * fold's output counts as) and increments stamped with the cut
    * they absorbed up to; `tmpSuffix` names the fold's temp dir.
    * `relabel-f` (a forget's re-derivation) belongs to neither side:
    * it is never foldable and never counted. */
  sealed abstract class Side(val increment: String, val compact: String,
      val tmpSuffix: String) {
    def isBase(name: String): Boolean
  }

  /** Base = `part-*` build files or a prior fold's `compact-*`;
    * increments = `append-*`. */
  case object Plain extends Side("append", "compact", "_fold") {
    def isBase(name: String): Boolean =
      name.startsWith("part-") || name.startsWith("compact-")
  }

  /** Base = a prior fold's `relabel-c*`; increments = `relabel-a*`. */
  case object Replacement extends Side("relabel-a", "relabel-c", "_relfold") {
    def isBase(name: String): Boolean = name.startsWith("relabel-c")
  }

  private def names(dir: Path): Seq[String] =
    Option(dir.toFile.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.endsWith(".parquet"))

  /** May `name` enter a fold at `fencedCut`? Its side's base, except
    * this fold's own output (`<compact><fencedCut>-`), plus every
    * increment at or below the fenced cut. An increment above it is a
    * crashed attempt's debris and must stay out of any new base. */
  def foldable(name: String, side: Side, fencedCut: Long): Boolean =
    name.endsWith(".parquet") && (cutOf(name, side.increment) match {
      case Some(c) => c <= fencedCut
      case None => side.isBase(name) &&
        !name.startsWith(prefix(side.compact, fencedCut))
    })

  /** The foldable files of `dir`, in listing order. */
  def foldable(dir: Path, side: Side, fencedCut: Long): Seq[Path] =
    names(dir).filter(foldable(_, side, fencedCut)).map(dir.resolve)

  /** Generations of `side` in `dir` at `fencedCut`: one per distinct
    * increment cut at or below it, plus one if a base exists — what
    * the auto-compact policies threshold on. `Long.MaxValue` counts
    * every landed increment. */
  def count(dir: Path, side: Side = Plain,
      fencedCut: Long = Long.MaxValue): Int = {
    val ns = names(dir)
    ns.flatMap(cutOf(_, side.increment)).filter(_ <= fencedCut)
      .distinct.size + (if (ns.exists(side.isBase)) 1 else 0)
  }

  /** A crashed commit's leftover: an increment (`append-*` or
    * `relabel-a*`) above the fenced cut. */
  def isDebris(name: String, fencedCut: Long): Boolean =
    (cutOf(name, Plain.increment) ++ cutOf(name, Replacement.increment))
      .exists(_ > fencedCut)

  /** Land the `part-*.parquet` files Spark wrote to `tmp` in `dst` as
    * `<prefix>NNN.parquet`, numbered in name order. `dst`'s files
    * under `prefix` are cleared first, so a retry after a crash
    * mid-install never leaves a stale file of the earlier attempt
    * beside the new ones. A move drops `tmp` at the end; `copy` keeps
    * it, for callers that retire other files before dropping `tmp`
    * themselves (a crash in between re-runs the install from `tmp`).
    * With `tmp` absent this does nothing and leaves `dst` untouched:
    * the fold commit's repair relies on that once its copies landed
    * and the temp dir is gone. */
  def install(tmp: Path, dst: Path, prefix: String,
      copy: Boolean = false): Unit =
    if (Files.isDirectory(tmp)) {
      Files.createDirectories(dst)
      names(dst).filter(_.startsWith(prefix))
        .foreach(n => Files.deleteIfExists(dst.resolve(n)))
      tmp.toFile.listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
          val to = dst.resolve(f"$prefix%s$i%03d.parquet")
          if (copy)
            Files.copy(f.toPath, to, StandardCopyOption.REPLACE_EXISTING)
          else Files.move(f.toPath, to, StandardCopyOption.REPLACE_EXISTING)
        }
      if (!copy) DedupOps.deleteRecursively(tmp.toFile)
    }
}
