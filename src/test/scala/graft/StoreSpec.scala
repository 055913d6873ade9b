package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import graft.sources.{BucketedStore, Store}

import scala.jdk.CollectionConverters._

/** The persisted-store lifecycle under faults: crashed builds, leftover
  * staging directories, stale lock files, racing threads and a second
  * process. */
class StoreSpec extends SparkSpec {

  /** A build that commits an empty store: the marker alone. */
  private def commit(tmp: String): Unit = {
    Files.createDirectories(Paths.get(tmp))
    Files.createFile(Paths.get(tmp, "_SUCCESS"))
  }

  private def files(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  test("a build that writes parquet and then throws leaves no store, " +
    "and the next call rebuilds it") {
    withTempDir("graft_store_spec") { dir =>
      val path = s"$dir/store"
      val e = intercept[RuntimeException] {
        Store.ensurePath(path) { tmp =>
          spark.range(3).write.parquet(tmp)
          throw new RuntimeException("crash after the write")
        }
      }
      assert(e.getMessage == "crash after the write")
      assert(!Files.exists(Paths.get(path)))
      var builds = 0
      Store.ensurePath(path) { tmp =>
        builds += 1
        spark.range(5).write.parquet(tmp)
      }
      assert(builds == 1)
      assert(spark.read.parquet(path).count() == 5)
      assert(files(Paths.get(dir)) == Set("store", "store.lock"))
    }
  }

  test("a directory without _SUCCESS is never served and gets rebuilt") {
    withTempDir("graft_store_spec") { dir =>
      val path = Paths.get(dir, "store")
      Files.createDirectories(path)
      Files.write(path.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
      var builds = 0
      Store.ensurePath(path.toString) { tmp => builds += 1; commit(tmp) }
      assert(builds == 1)
      assert(files(path) == Set("_SUCCESS"))
      Store.ensurePath(path.toString) { tmp => builds += 1; commit(tmp) }
      assert(builds == 1)
    }
  }

  test("a leftover staging directory is cleared and a stale lock file " +
    "does not block") {
    withTempDir("graft_store_spec") { dir =>
      val path = s"$dir/store"
      val staging = Paths.get(path + ".building")
      Files.createDirectories(staging)
      Files.write(staging.resolve("part-0.parquet"), Array[Byte](1))
      Files.write(Paths.get(path + ".lock"), "stale".getBytes)
      Store.ensurePath(path)(commit)
      assert(files(Paths.get(path)) == Set("_SUCCESS"))
      assert(!Files.exists(staging))
    }
  }

  test("8 threads racing one path run the build exactly once") {
    withTempDir("graft_store_spec") { dir =>
      val path = s"$dir/store"
      val builds = new AtomicInteger
      val errors = new ConcurrentLinkedQueue[Throwable]
      val threads = (1 to 8).map { _ =>
        new Thread(() =>
          try Store.ensurePath(path) { tmp =>
            builds.incrementAndGet()
            Thread.sleep(200)
            commit(tmp)
          } catch { case t: Throwable => errors.add(t) })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(60000))
      assert(errors.isEmpty, errors.asScala.mkString("; "))
      assert(builds.get == 1)
      assert(Files.exists(Paths.get(path, "_SUCCESS")))
    }
  }

  test("a second JVM building the store holds the OS lock: ensurePath " +
    "waits, then serves the peer's commit without building") {
    withTempDir("graft_store_spec") { dir =>
      val path = s"$dir/store"
      val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java")
      val child = new ProcessBuilder(javaBin.toString, "-Xmx64m", "-cp",
          System.getProperty("java.class.path"),
          "graft.StoreSpecChild", path, "1500")
        .redirectErrorStream(true).start()
      try {
        val out = new java.io.BufferedReader(
          new java.io.InputStreamReader(child.getInputStream))
        val lines = Iterator.continually(out.readLine())
          .takeWhile(_ != null).find(_ == "building")
        assert(lines.contains("building"), "child exited before building")
        var built = false
        Store.ensurePath(path) { _ => built = true }
        assert(!built)
        assert(new String(Files.readAllBytes(Paths.get(path, "built_by")))
          == "child")
        assert(child.waitFor(60, java.util.concurrent.TimeUnit.SECONDS))
        assert(child.exitValue == 0)
      } finally child.destroyForcibly()
    }
  }

  test("catalog form: an orphaned warehouse directory is cleared and the " +
    "table is built once") {
    val table = "graft_store_spec_orphan"
    val w = java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir"))
    val orphan = Paths.get(if (w.getScheme == null) w.toString else w.getPath)
      .resolve(table)
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-stale.parquet"), Array[Byte](1))
    try {
      var builds = 0
      def build = { builds += 1; spark.range(10).toDF("id") }
      val a = BucketedStore.ensure(spark, table, build, "id", 2)
      val b = BucketedStore.ensure(spark, table, build, "id", 2)
      assert(builds == 1)
      assert(!Files.exists(orphan.resolve("part-stale.parquet")))
      assert(a.count() == 10 && b.count() == 10)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("Store.name keeps the store names spelled out by hand") {
    val safe = sf.replaceAll("[^a-zA-Z0-9]", "_")
    val fp = Store.fingerprint(s"$sf/embeddings.parquet")
    val docFp = Store.fingerprint(s"$sf/documents.parquet")
    assert(fp.length == 8 && docFp.length == 8 && fp != docFp)
    assert(Store.name("graft_knn_edges", sf) == s"graft_knn_edges_${safe}_$fp")
    assert(Store.name("graft_knn_base_edges", sf) ==
      "graft_knn_base_edges_" + safe + "_" + fp)
    assert(Store.name("/tmp/graft_tivfidx2", sf) ==
      s"/tmp/graft_tivfidx2_${safe}_$fp")
    assert(Store.name("graft_seen_idx", sf, "documents.parquet") ==
      s"graft_seen_idx_${safe}_$docFp")
    assert(Store.name("graft_x", "/no/such/dir") ==
      "graft_x__no_such_dir_absent")
  }
}

/** The second process of StoreSpec's two-JVM test: builds `args(0)`
  * through [[Store.ensurePath]], printing "building" once it holds the
  * locks and holding them `args(1)` ms before it commits. */
object StoreSpecChild {
  def main(args: Array[String]): Unit =
    Store.ensurePath(args(0)) { tmp =>
      Files.createDirectories(Paths.get(tmp))
      Files.write(Paths.get(tmp, "built_by"), "child".getBytes)
      println("building")
      System.out.flush()
      Thread.sleep(args(1).toLong)
      Files.createFile(Paths.get(tmp, "_SUCCESS"))
    }
}
