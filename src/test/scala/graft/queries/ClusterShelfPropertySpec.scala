package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property tests for the cluster shelf's lifecycle on GENERATED
  * corpora with bridged buckets: whatever the tranche cuts, the
  * forgotten ids, the compaction and the age-off horizon, the served
  * clusters must equal the bucket-connectivity rebuild over exactly the
  * surviving docs — merges, splits, raised labels and vanished
  * components included. The registry gates see only the fixture's
  * fixed cuts and lists. Raw ScalaCheck sampling with fixed seeds, as
  * in BucketShelfPropertySpec. */
class ClusterShelfPropertySpec extends SparkSpec {

  private val tA = "alpha beta gamma delta epsilon zeta"
  private val tB = "one two three four five six"
  private val tC = "quick brown foxes vault lazy hounds"
  private val words = Seq("red", "green", "blue", "cyan", "amber", "teal")

  private def text(pool: String*): Gen[String] = Gen.frequency(
    4 -> Gen.oneOf(pool),
    1 -> Gen.listOfN(5, Gen.oneOf(words)).map(_.mkString(" ")))

  /** A++B shares buckets with both A and B, so it bridges their
    * clusters. Bridges occur only above the base cut: an append then
    * merges two base clusters and must relabel every member of the one
    * with the larger min, and forgetting the bridge splits them again. */
  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.choose(8, 16)
    ids <- Gen.listOfN(n, Gen.choose(1L, 200L)).map(_.distinct.sorted)
    mid = (ids.head + ids.last) / 2
    texts <- Gen.sequence[List[String], String](ids.map(id =>
      if (id <= mid) text(tA, tB, tC) else text(tA, tB, tA + " " + tB)))
  } yield ids.zip(texts)

  /** Tranche cuts above the base cut, where appends land, or just
    * outside. */
  private def cutsGen(docs: Seq[(Long, String)]): Gen[Seq[Long]] = {
    val mid = (docs.head._1 + docs.last._1) / 2
    Gen.choose(0, 3).flatMap(Gen.listOfN(_,
      Gen.choose(mid - 5, docs.last._1 + 5))).map(_.sorted)
  }

  private def sample[T](seed: Int)(gen: Gen[T]): T =
    gen.pureApply(Gen.Parameters.default, Seed(seed.toLong))

  private def corpus(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("cluster_prop_").toString
    docs.toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def rows(d: DataFrame): Seq[Vector[Any]] =
    d.collect().map(_.toSeq.toVector).toSeq

  test("any append/forget/compact/age-off sequence serves the rebuild over the surviving docs") {
    import spark.implicits._
    val e = ClusterShelf.Entry(Nil, "prop", ClusterShelf.Append)
    (1 to 5).foreach { seed =>
      val (docs, cuts, forgot, compacted, horizon) = sample(seed)(for {
        docs <- corpusGen
        cuts <- cutsGen(docs)
        forgot <- Gen.someOf(docs.map(_._1))
        compacted <- Gen.oneOf(true, false)
        horizon <- Gen.choose(docs.head._1 - 5,
          (docs.head._1 + docs.last._1) / 2)
      } yield (docs, cuts, forgot.toSeq, compacted, horizon))
      val ctx = s"seed $seed, cuts $cuts, forgot $forgot, " +
        s"compacted $compacted, horizon $horizon"
      val dir = corpus(docs)
      val out = ClusterShelf.build(spark, dir, e)
      cuts.foreach(ClusterShelf.append(spark, dir, e, _))
      ClusterShelf.forget(spark, out, forgot.toDF("doc_id"), "prop")
      if (compacted) ClusterShelf.compact(spark, out)
      // an active replacement refuses the advance; the schedule is
      // advance → compact → advance
      scala.util.Try(ClusterShelf.ageOff(spark, out, horizon, "doc_id"))
        .failed.foreach { err =>
          assert(err.getMessage.contains("compact first") && !compacted,
            s"$ctx: $err")
          assert(ClusterShelf.compact(spark, out), ctx)
          ClusterShelf.ageOff(spark, out, horizon, "doc_id")
        }
      val last = DedupOps.cutOf(out)
      val survivors = docs.filter { case (id, _) =>
        id <= last && id > horizon && !forgot.contains(id)
      }
      assert(rows(ClusterShelf.served(spark, DedupOps.requireReady(out))) ===
        rows(DedupOps.rebuildBucketClusters(spark, corpus(survivors))), ctx)
    }
  }

  test("absorbing overlapping, re-delivered tranches serves what the appends serve") {
    val appended = ClusterShelf.Entry(Nil, "propa", ClusterShelf.Append)
    val absorbed = ClusterShelf.Entry(Nil, "propb", ClusterShelf.Frozen)
    (1 to 4).foreach { seed =>
      val (docs, cuts) = sample(seed)(for {
        docs <- corpusGen
        cuts <- cutsGen(docs)
      } yield (docs, cuts))
      val dir = corpus(docs)
      val a = ClusterShelf.build(spark, dir, appended)
      cuts.foreach(ClusterShelf.append(spark, dir, appended, _))
      val out = ClusterShelf.build(spark, dir, absorbed)
      val all = graft.Tables(spark, dir, "documents")
      // each batch re-delivers every doc up to its cut, the stream's
      // at-least-once shape; the batch's max id is known up front
      (cuts ++ cuts).foreach { c =>
        val batch = all.filter(col("doc_id") <= c)
        val hi = docs.map(_._1).filter(_ <= c).maxOption
        DedupOps.artifactLock(out).synchronized {
          ClusterShelf.absorb(spark, out, batch, knownHi = hi)
        }
      }
      val ctx = s"seed $seed, cuts $cuts"
      assert(DedupOps.cutOf(out) === DedupOps.cutOf(a), ctx)
      assert(rows(ClusterShelf.served(spark, out)) ===
        rows(ClusterShelf.served(spark, a)), ctx)
    }
  }
}
