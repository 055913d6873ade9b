package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites, built by the same factory
  * as every entry point so tests run the shipped optimizer settings. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` with the given session confs set, then restores each
    * key's prior value (or unsets it): the session is shared, so a conf
    * must not leak into later suites. */
  def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val prior = pairs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` on a fresh temp directory named after `prefix`, then
    * deletes the directory and everything in it. */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally graft.sources.Store.deleteTree(dir)
  }
}
