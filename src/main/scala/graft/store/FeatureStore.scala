package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Feature-store publish/read (reference R4: `df.to_csv(path, index=False)`
  * at `/root/reference/src/main.py:14-15`, re-read implied by its README).
  *
  * CSV (header, no index column) is kept for reference fidelity; parquet is
  * the engine-native format — columnar, splittable, predicate-pushdown-able
  * — and the only sane choice at 100 TB. Writers take an explicit sort so
  * output bytes are stable for golden comparisons (SURVEY.md §7.4).
  */
object FeatureStore {

  /** Publish as CSV with header, deterministic row order. `coalesce(1)`
    * mirrors the reference's single-file artifact — fidelity-scale only;
    * use [[writeParquet]] for anything big. */
  def writeCsv(df: DataFrame, path: String, orderCols: Seq[String]): Unit =
    df.orderBy(orderCols.map(col): _*)
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(path)

  /** Read back with an explicit schema — never inferSchema. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** JSON lines sink (reference R14 generalized to tables): one object per
    * row, ordered for stable goldens. */
  def writeJson(df: DataFrame, path: String, orderCols: Seq[String]): Unit =
    df.orderBy(orderCols.map(col): _*)
      .coalesce(1)
      .write.mode("overwrite").json(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Engine-native store: parquet, optionally bucketed by a key column at
    * scale ([[ensureBucketedTable]] for the catalog-backed bucketed form). */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** ORC sink/source — the second columnar lake format Spark ships
    * natively (vectorized reader, predicate pushdown, same
    * bucketing/partitioning composition as parquet); interop surface for
    * lakes standardized on ORC. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Version fingerprint of a source path: the top-level mtime folded
    * with every child file's (mtime, size) — one FS listing, no data
    * read. Used to key published layout tables to the corpus version
    * they were built from, so an in-place source rewrite mints a fresh
    * layout instead of serving stale derived data.
    *
    * HONEST LIMITS: mtime+size is a version *proxy*, not a content hash
    * — a timestamp-preserving restore of equal-size files (rsync -t) or
    * a rewrite inside one timestamp tick aliases to the same
    * fingerprint. Deployments whose writers can do that should key on an
    * explicit publish epoch / snapshot id instead. */
  def versionFingerprint(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0L
    val top = fs.getFileStatus(p)
    var h = top.getModificationTime
    if (top.isDirectory) {
      // ORDER-INSENSITIVE combine (sum of per-child mixes): listStatus
      // enumeration order is filesystem-dependent, and an order-sensitive
      // fold would mint a fresh fingerprint — and trigger a full spurious
      // republish — for an unchanged directory after an FS migration
      // (round-4 review, third pass)
      fs.listStatus(p).foreach { s =>
        h += s.getModificationTime * 1000003L + s.getLen * 31L
      }
    }
    h
  }

  /** Driver-side fits of a corpus file (quantizer and PQ codebooks, BPE
    * merges, a row count, a footer sniff), keyed (corpus file,
    * [[versionFingerprint]], fit key). Plain driver values, so an entry
    * serves every session in the JVM. */
  private val fits =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Any), Any]

  /** The fit of `path` at version `fp` named by `key` (which carries the
    * fit's parameters): computed on the first call, served from memory
    * after that. Entries of `path` at any other fingerprint are dropped
    * first, so a long-lived JVM that rewrites a corpus in place keeps
    * one version's fits, never a stale one. `fit` may itself call
    * `cachedFit` (the residual-PQ fit reads the quantizer's). */
  def cachedFit[V](path: String, fp: Long, key: Any)(fit: => V): V = {
    fits.keys.filter(k => k._1 == path && k._2 != fp).foreach(fits.remove)
    fits.getOrElseUpdate((path, fp, key), fit).asInstanceOf[V]
  }

  /** Serializes publishers per BASE name: concurrent in-JVM publishers of
    * the same layout (e.g. the two futures in
    * [[graft.ops.Relational.publishBucketedJoinTables]] racing a warmup
    * caller) can't both pass the existence check, race the stale-location
    * delete, or interleave a superseded-version drop with a sibling's
    * write (round-2 ADVICE; round-4 review). Single-writer is assumed
    * ACROSS JVMs — the in-memory catalog is process-local anyway; a
    * shared metastore deployment would rely on the catalog's own atomic
    * CREATE instead. */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Create-once VERSIONED catalog publisher — the one mechanism behind
    * every published layout table. The physical name is
    * `<base>_<fp hex>`; on the create path (only), superseded versions of
    * the same base are dropped and a stale managed location (a previous
    * JVM's orphan) is cleared, all inside the per-base lock. Steady state
    * costs one `tableExists` check. Returns the versioned name. */
  def ensureVersionedTable(spark: SparkSession, base: String, fp: Long)(
      write: String => Unit): String = {
    val table = s"${base}_${java.lang.Long.toHexString(fp)}"
    tableLocks.computeIfAbsent(base.toLowerCase, _ => new Object).synchronized {
      if (!spark.catalog.tableExists(table)) {
        // drop superseded versions from THIS JVM's catalog...
        spark.catalog.listTables().collect().map(_.name)
          .filter(n => n.startsWith(base.toLowerCase + "_") &&
            n != table.toLowerCase)
          .foreach(n => spark.sql(s"DROP TABLE IF EXISTS `$n`"))
        // ...and clear superseded/stale WAREHOUSE directories by prefix:
        // the in-memory catalog dies with each JVM, so a fresh process
        // after a source rewrite would otherwise orphan every prior
        // <base>_<fp> directory forever — one full layout copy leaked
        // per rewrite (round-4 review, third pass)
        val wh = spark.conf.get("spark.sql.warehouse.dir")
        val whPath = new org.apache.hadoop.fs.Path(wh)
        val fs = whPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(whPath)) {
          fs.listStatus(whPath).map(_.getPath)
            .filter(p => p.getName.startsWith(base.toLowerCase + "_"))
            .foreach(p => fs.delete(p, true))
        }
        write(table)
      }
    }
    table
  }

  /** Publish `df` as a catalog-backed parquet table bucketed (and
    * bucket-sorted) by `key` — the co-partitioned layout that lets every
    * downstream join/aggregate on `key` run with ZERO exchange: the
    * bucketed scan reports `HashPartitioning(key, buckets)`, which
    * satisfies the join/agg distribution requirement outright. At 100 TB
    * this is the single biggest shuffle lever for recurring fact-fact
    * joins: pay one shuffle at publish time, never again at read time. */
  def ensureBucketedTable(spark: SparkSession, df: => DataFrame, base: String,
                          key: String, buckets: Int, fp: Long): String =
    ensureVersionedTable(spark, base, fp) { table =>
      // repartition by the bucket key first: Dataset.repartition and the
      // bucketing writer share the same murmur3-mod-n placement, so each
      // write task owns exactly one bucket → ONE sorted file per bucket.
      // That lets the bucketed reader trust the sortBy metadata, so a
      // downstream merge join needs neither an exchange NOR a sort.
      df.repartition(buckets, col(key))
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, key).sortBy(key)
        .saveAsTable(table)
    }

  /** Publish `df` as a plain (unbucketed, unpartitioned) catalog parquet
    * table — for narrow derived layouts like the ANN sign index, where the
    * reader always scans the whole (tiny-per-row) table and the win is
    * the precomputed column itself, not data placement. */
  def ensurePlainTable(spark: SparkSession, df: => DataFrame,
                       base: String, fp: Long): String =
    ensureVersionedTable(spark, base, fp) { table =>
      df.write.mode("overwrite").format("parquet").saveAsTable(table)
    }

  /** Publish `df` hive-style partitioned by `partCol` — the lake layout
    * that turns partition-column predicates into directory pruning: a
    * filter on `partCol` skips the other partitions' files entirely. At
    * 100 TB, date-partitioning is the first-line data-skipping lever,
    * ahead of any row-group statistics.
    *
    * The write repartitions by (`partCol`, bounded salt) first: without
    * it every write TASK emits one file per partition value it happens
    * to hold — tasks × partitions files (a 1000-executor write into
    * the 4096-cell IVF layout would scatter millions of tiny files,
    * and even locally the planner pays per-file overhead on every
    * pruned probe). Hash-clustered, each partition value lands in at
    * most `filesPerPartition` tasks → at most that many files per
    * directory (spec-asserted for the IVF cells at the default 1), at
    * the cost of one publish-time shuffle — the same pay-once trade as
    * [[ensureBucketedTable]]. The salt (deterministic row hash mod n)
    * exists for LOW-cardinality partition columns: a year-partitioned
    * fact at 100 TB must not funnel each year through one writer task
    * or emit one multi-TB file — callers size `filesPerPartition` to
    * the expected per-partition bytes. */
  def ensurePartitionedTable(spark: SparkSession, df: => DataFrame,
                             base: String, partCol: String, fp: Long,
                             filesPerPartition: Int = 1): String =
    ensureVersionedTable(spark, base, fp) { table =>
      val d = df
      val salt = pmod(xxhash64(d.columns.map(col): _*),
        lit(filesPerPartition.toLong))
      d.repartition(col(partCol), salt)
        .write.mode("overwrite").format("parquet")
        .partitionBy(partCol)
        .saveAsTable(table)
    }
}
