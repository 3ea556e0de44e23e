package graft.queries

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import Generations.{Plain, Replacement}

/** The generation-file module on plain directories, no Spark session:
  * name round-trips, the fenced-fold predicates and counts, and the
  * install's clear-first and absent-temp contracts. */
class GenerationsSpec extends AnyFunSuite {

  private def dirWith(names: String*): Path = {
    val d = Files.createTempDirectory("gens_")
    names.foreach(n => Files.write(d.resolve(n), n.getBytes("UTF-8")))
    d
  }

  private def listing(d: Path): Seq[String] =
    Option(d.toFile.listFiles()).toSeq.flatten.map(_.getName).sorted

  test("every generation kind round-trips through prefix and parse, multi-digit cuts included") {
    val cases = Seq("append" -> "7", "append" -> "1234567890123",
      "compact" -> "0", "compact" -> "163", "retract" -> "42",
      "retractxab12cd" -> "42", "ageoff17" -> "99", "resketch" -> "250",
      "delete" -> "000", "delete" -> "xab12cd", "delete" -> "h120",
      "relabel-a" -> "121", "relabel-c" -> "99999", "relabel-f" -> "fab12")
    cases.foreach { case (kind, tag) =>
      Seq(0, 7, 123).foreach { i =>
        val name = f"${Generations.prefix(kind, tag)}$i%03d.parquet"
        assert(Generations.parse(name) === Some((kind, tag)), name)
      }
    }
    assert(Generations.prefix("append", 12L) === "append-12-")
    assert(Generations.prefix("relabel-a", 12L) === "relabel-a12-")
    Seq("part-00000-abc-c000.snappy.parquet", "_CUT", "_INDEX_READY",
        ".append-12-000.parquet.crc", "k000.parquet")
      .foreach(n => assert(Generations.parse(n) === None, n))
  }

  test("the fence's own cut is fenced; the cut above it is debris") {
    assert(Generations.foldable("append-120-000.parquet", Plain, 120L))
    assert(!Generations.foldable("append-121-000.parquet", Plain, 120L))
    assert(!Generations.isDebris("append-120-000.parquet", 120L))
    assert(Generations.isDebris("append-121-000.parquet", 120L))
    assert(Generations.foldable("relabel-a120-000.parquet", Replacement, 120L))
    assert(!Generations.isDebris("relabel-a120-000.parquet", 120L))
    assert(Generations.isDebris("relabel-a121-000.parquet", 120L))
    // a multi-digit cut compares numerically, not as text
    assert(Generations.foldable("append-99-000.parquet", Plain, 100L))
    assert(Generations.isDebris("append-1000-000.parquet", 999L))
    // bases and the other kinds are never debris
    Seq("part-00000-x.snappy.parquet", "compact-500-000.parquet",
        "relabel-c500-000.parquet", "relabel-f9-000.parquet",
        "delete-x1-000.parquet", "resketch-500-000.parquet")
      .foreach(n => assert(!Generations.isDebris(n, 120L), n))
  }

  test("a fold's own output is excluded from its input") {
    val d = dirWith("part-00000-x.snappy.parquet", "compact-12-000.parquet",
      "compact-120-000.parquet", "append-100-000.parquet",
      "append-120-000.parquet", "append-121-000.parquet", "_CUT")
    assert(Generations.foldable(d, Plain, 120L).map(_.getFileName.toString)
      .sorted === Seq("append-100-000.parquet", "append-120-000.parquet",
        "compact-12-000.parquet", "part-00000-x.snappy.parquet"))
    // the base counts once, own compact included; debris never counts
    assert(Generations.count(d, Plain, 120L) === 3)
    assert(Generations.count(d) === 4)
    val r = dirWith("relabel-c120-000.parquet", "relabel-c7-000.parquet",
      "relabel-a100-000.parquet", "relabel-a100-001.parquet")
    assert(Generations.foldable(r, Replacement, 120L)
      .map(_.getFileName.toString).sorted ===
      Seq("relabel-a100-000.parquet", "relabel-a100-001.parquet",
        "relabel-c7-000.parquet"))
    assert(Generations.count(r, Replacement, 120L) === 2)
  }

  test("relabel-f is never foldable and never counted") {
    val d = dirWith("relabel-fab12-000.parquet", "relabel-fab12-001.parquet",
      "part-00000-x.snappy.parquet")
    Seq(Plain, Replacement).foreach { side =>
      assert(!Generations.foldable("relabel-fab12-000.parquet", side,
        Long.MaxValue))
    }
    assert(Generations.count(d, Replacement) === 0)
    assert(Generations.count(d, Plain) === 1)
    assert(Generations.foldable(d, Replacement, Long.MaxValue).isEmpty)
  }

  test("install clears its prefix first, then moves and drops the temp dir") {
    val dst = dirWith("append-7-000.parquet", "append-7-001.parquet",
      "append-7-002.parquet", "append-70-000.parquet",
      "part-00000-base.snappy.parquet")
    val tmp = dirWith("part-00001-b.snappy.parquet",
      "part-00000-a.snappy.parquet", "_SUCCESS",
      ".part-00000-a.snappy.parquet.crc")
    Generations.install(tmp, dst, Generations.prefix("append", 7))
    assert(listing(dst) === Seq("append-7-000.parquet",
      "append-7-001.parquet", "append-70-000.parquet",
      "part-00000-base.snappy.parquet"))
    // numbered in part-file name order
    assert(new String(Files.readAllBytes(dst.resolve("append-7-000.parquet")),
      "UTF-8") === "part-00000-a.snappy.parquet")
    assert(!Files.exists(tmp))
  }

  test("install with copy keeps the temp dir; a missing dst is created") {
    val root = Files.createTempDirectory("gens_")
    val tmp = dirWith("part-00000-a.snappy.parquet")
    Generations.install(tmp, root.resolve("labels"),
      Generations.prefix("relabel-c", 120), copy = true)
    assert(listing(root.resolve("labels")) === Seq("relabel-c120-000.parquet"))
    assert(listing(tmp) === Seq("part-00000-a.snappy.parquet"))
  }

  test("with the temp dir absent, install leaves dst untouched") {
    val dst = dirWith("compact-120-000.parquet", "append-100-000.parquet")
    val before = listing(dst)
    val gone = dst.resolveSibling(dst.getFileName.toString + "_fold")
    Seq(false, true).foreach { copy =>
      Generations.install(gone, dst, Generations.prefix("compact", 120), copy)
      assert(listing(dst) === before)
    }
    val missing = dst.resolveSibling(dst.getFileName.toString + "_none")
    Generations.install(gone, missing, "compact-120-")
    assert(!Files.exists(missing))
  }
}
