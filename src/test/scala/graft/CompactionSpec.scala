package graft

import java.nio.file.{Files, Paths}

import graft.operators.IvfIndex
import graft.queries.Queries
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Compaction execution (v95): the rewrite must purge EXACTLY the
  * flagged partitions, leave every other partition's files bit-
  * identical, and change nothing a query can observe. */
class CompactionSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def listPartDirs(p: String): Map[String, Seq[String]] =
    Files.list(Paths.get(p)).iterator().asScala
      .filter(d => Files.isDirectory(d) &&
        d.getFileName.toString.startsWith("centroid_id="))
      .map(d => d.getFileName.toString ->
        Files.list(d).iterator().asScala.map(_.getFileName.toString)
          .toSeq.sorted)
      .toMap

  test("compact purges flagged partitions, copies unflagged files " +
    "bit-for-bit, and flags match v71's planner rule") {
    val e = Tables.embeddings(spark, sf)
    withTempDir("graft_cmp_spec") { tmp =>
      val srcPath = s"$tmp/src"
      val dstPath = s"$tmp/dst"
      val cents = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("cid"), col("embedding"))
      IvfIndex.save(
        IvfIndex.assign(e, cents, "vec_id", "embedding", "cid"), srcPath)
      val dead = col("id") % 7 === 0
      val flagged = IvfIndex.compact(spark, srcPath, dstPath, dead)

      // the executed flag set IS v71's decision
      val expected = Queries.v71CompactionReport(spark, sf)
        .filter(col("needs_compaction") === 1L)
        .select(col("centroid_id").cast("long")).collect()
        .map(_.getLong(0)).toSeq.sorted
      assert(flagged == expected,
        s"compact flagged $flagged but v71 decided $expected")
      assert(flagged.nonEmpty, "fixture produced no flagged partition — " +
        "the purge path went untested; adjust the delete set")

      val srcParts = listPartDirs(srcPath)
      val dstParts = listPartDirs(dstPath)
      assert(srcParts.keySet == dstParts.keySet,
        "compacted store lost or invented partitions")
      assert(flagged.size < srcParts.size,
        "fixture flagged every partition — the copy path went untested")

      val flaggedDirs = flagged.map(c => s"centroid_id=$c").toSet
      // unflagged partitions: same file names, bit-identical bytes
      (srcParts.keySet -- flaggedDirs).foreach { dir =>
        assert(srcParts(dir) == dstParts(dir),
          s"$dir: file set changed (${srcParts(dir)} vs ${dstParts(dir)})")
        srcParts(dir).foreach { f =>
          assert(Files.mismatch(Paths.get(srcPath, dir, f),
            Paths.get(dstPath, dir, f)) == -1L,
            s"$dir/$f: bytes differ — unflagged partition was rewritten")
        }
      }

      // flagged partitions: zero tombstoned rows, everything else kept
      val srcIdx = spark.read.parquet(srcPath)
      val dstIdx = spark.read.parquet(dstPath)
      val inFlagged = col("centroid_id").cast("long").isin(flagged: _*)
      assert(dstIdx.filter(inFlagged && dead).count() == 0L,
        "a flagged partition still holds tombstoned rows")
      val wantIds = srcIdx.filter(inFlagged && !dead)
        .select("id").collect().map(_.getLong(0)).toSet
      val gotIds = dstIdx.filter(inFlagged)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(gotIds == wantIds, "flagged-partition rewrite dropped or " +
        "invented live rows")
    }
  }

  test("v95 compacted serve == v62 tombstone serve, row for row") {
    val got = Queries.v95CompactionExec(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val want = Queries.v62TombstoneSearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == want)
    assert(got.nonEmpty)
  }
}
