package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed persistence — the write-once / join-many layout for the
  * gallery at scale. `bucketBy(n, key)` pre-shuffles and pre-sorts data
  * at write time, so every later equi-join or aggregation on the key
  * reads co-located buckets with ZERO exchange: at 100 TB, re-shuffling
  * the gallery for each of a pipeline's joins is the dominant cost, and
  * bucketing pays it exactly once.
  *
  * This is the relational-store twin of the reference's persisted FAISS
  * index (faiss_utils.py:11-17): an access-path decision baked into the
  * storage layout. Complements [[graft.operators.IvfIndex.save]], which
  * partitions by centroid for partition-pruned probes.
  */
object BucketedStore {

  /** Persist `df` as a bucketed (and in-bucket sorted) parquet table in
    * the session catalog. */
  def save(df: DataFrame, table: String, bucketCol: String,
           numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Load a bucketed table; joins/aggs on its bucket key skip the
    * exchange (verify: no `Exchange` below the join in `.explain`). */
  def load(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Build-once accessor: saves `build` bucketed by `bucketCol` unless
    * the table already exists in this session's catalog, then loads it.
    * This is the write-once/join-many contract made explicit — callers
    * (e.g. the incremental-dedup seen index) treat the bucketed layout
    * as a PERSISTED STORE, so repeated query builds in one session are
    * read-only. Callers name the table with [[Store.name]]; the build
    * runs under [[Store]]'s locks, keyed by the table.
    *
    * A warehouse directory orphaned by a previous JVM (the in-memory
    * catalog dies with the session, the files do not) is cleared before
    * the save — resolved from the session's ACTUAL
    * `spark.sql.warehouse.dir` (a relative "spark-warehouse" guess
    * breaks under a non-default warehouse or changed CWD). The OS lock
    * on `<table>.lock` next to the table dir stops two PROCESSES from
    * interleaving their rebuild writes. The guard is narrower than
    * [[Store.ensurePath]]'s: the catalog is per-session, so a second
    * JVM (whose empty catalog can't see the first's table) still
    * REBUILDS after the lock clears — and an unlocked reader in the
    * first JVM can still see its files swapped mid-read. The
    * never-two-JVMs protocol (serial verify/bench runs) remains the
    * only complete guard for catalog tables; the lock closes the
    * builder-vs-builder interleave only.
    *
    * The OS lock (and the orphan-dir sweep) only make sense when the
    * warehouse is a LOCAL filesystem path: for a remote scheme (hdfs,
    * s3a, ...) a java.nio path built from the URI string would create
    * bogus local directories like `hdfs:/...` instead of locking the
    * real location, so a remote warehouse takes the JVM lock alone and
    * `saveAsTable(overwrite)` owns the remote files — cross-process
    * coordination on a remote warehouse belongs to a transactional
    * table format, not an advisory file lock. */
  def ensure(spark: SparkSession, table: String, build: => DataFrame,
             bucketCol: String, numBuckets: Int): DataFrame = {
    if (!spark.catalog.tableExists(table)) {
      val warehouse = java.net.URI.create(
        spark.conf.get("spark.sql.warehouse.dir"))
      val localRoot =
        if (warehouse.getScheme == null) Some(warehouse.toString)
        else if (warehouse.getScheme == "file") Some(warehouse.getPath)
        else None
      val root = localRoot.map(java.nio.file.Paths.get(_))
      root.foreach(java.nio.file.Files.createDirectories(_))
      Store.locked(table, root.map(_.resolve(table + ".lock"))) {
        if (!spark.catalog.tableExists(table)) {
          root.foreach(r => Store.deleteTree(r.resolve(table)))
          save(build, table, bucketCol, numBuckets)
        }
      }
    }
    load(spark, table)
  }
}
