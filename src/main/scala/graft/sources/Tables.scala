package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Typed readers for the driver test corpus (`/root/repo/FIXTURES.md` §B).
  *
  * Every reader passes an explicit [[StructType]] — never `inferSchema` — so
  * Catalyst's column pruning / predicate pushdown operate on stable types and
  * the DuckDB oracle sees the same types (SURVEY.md §4.2). At 100 TB the
  * explicit schema also avoids a footer-sampling job on thousands of files.
  *
  * Design for scale: each of these is a plain parquet scan; partition layout
  * is whatever the lake provides. Callers that join dims (`region`..`part`)
  * should broadcast them (see [[graft.ops.Relational]]); fact-fact joins
  * (`lineitem` ⋈ `orders`) rely on AQE + shuffle hash/sort-merge.
  */
object Tables {

  val regionSchema: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nationSchema: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplierSchema: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val partSchema: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** `events.ts` arrives as INT64 with a generator-dependent logical
    * unit — TIMESTAMP(NANOS) in some corpus drops, TIMESTAMP(MICROS) in
    * others. Both are read through the same raw-long schema (NANOS via
    * `spark.sql.legacy.parquet.nanosAsLong`, MICROS because an explicit
    * LongType field reads the physical int64 directly) and normalized to
    * a micros TimestampType by [[eventsTsDivisor]]'s integer `DIV` —
    * double division would lose the last microsecond digit at 1.7e18 ns
    * magnitudes, breaking oracle parity. */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Width of every `embedding` vector. */
  val embeddingDim = 64

  private def read(spark: SparkSession, dir: String, name: String,
                   schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region", regionSchema)
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation", nationSchema)
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer", customerSchema)
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier", supplierSchema)
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part", partSchema)
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders", ordersSchema)
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem", lineitemSchema)

  /** Raw-long → micros divisor for `events.ts`, sniffed ONCE per file
    * version from the parquet footer (no data scan): with `nanosAsLong`
    * set, a NANOS-annotated column infers as LongType (→ divide by 1000),
    * while a MICROS column infers as a timestamp type (→ divide by 1).
    * Cached per [[graft.store.FeatureStore.versionFingerprint]] of the
    * file: the corpus is regenerated in place between rounds and has
    * flipped encodings before (nanos in r5, micros in r6), so a
    * long-lived session must re-sniff a rewritten file, not decode with
    * a stale divisor (round-6 ADVICE).
    *
    * Supported physical encodings are INT64 (MICROS- or NANOS-annotated,
    * or unannotated raw longs, which are treated as nanos). Legacy INT96
    * timestamps are rejected loudly by the raw-long scan — a corpus drop
    * in that encoding should be rewritten, not silently reinterpreted. */
  def eventsTsDivisor(spark: SparkSession, dir: String): Long = {
    val path = s"$dir/events.parquet"
    val fp = graft.store.FeatureStore.versionFingerprint(spark, path)
    graft.store.FeatureStore.cachedFit(path, fp, "tsDivisor") {
      val inferred = spark.read.parquet(path).schema("ts").dataType
      if (inferred == LongType) 1000L else 1L
    }
  }

  /** Events with `ts` as a proper TimestampType (micros, UTC), converted
    * exactly from the file's raw int64 (nanos or micros — see
    * [[eventsTsDivisor]]).
    *
    * Requires `spark.sql.legacy.parquet.nanosAsLong=true` on the session
    * (set at build time by [[GraftSession.configure]] and every graft
    * entry point) — the reader no longer mutates session config as a side
    * effect (round-1 VERDICT hygiene item). */
  def events(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "events", eventsRawSchema)
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr(
          s"ts DIV ${eventsTsDivisor(spark, dir)}")))
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents", documentsSchema)
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings", embeddingsSchema)
}

/** Session-build configuration graft's readers rely on — applied once at
  * build time instead of mutated from inside readers. It also installs
  * [[graft.functions.GraftExtensions]], the only source of graft's native
  * functions (`graft_dot`, `graft_polyhash`, `graft_top_k`, …) and of the
  * `graft_version` table function, for query builders and SQL users alike.
  *
  * The session contract: every session graft runs on is built by
  * [[configure]], or sets `spark.sql.extensions` to a list including
  * `graft.functions.GraftExtensions` plus
  * `spark.sql.legacy.parquet.nanosAsLong=true` itself. Sessions forked
  * with `newSession()` inherit both.
  *
  * NOTE: this helper OWNS the `spark.sql.extensions` key (builder config
  * is last-write-wins). Deployments that stack other extensions should
  * set the key themselves, as above, instead of calling this. */
object GraftSession {
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // whole-stage codegen gives up above this many input/buffer fields
      // (default 100) and the operator runs INTERPRETED. Graft's EDA
      // pack routinely carries 20-feature fused aggregates (count +
      // min/max/stddev per column = 101 buffer fields — one over the
      // default), and the round-16 measure showed the fused bounds pass
      // running interpreted at 2-5× the codegen cost. 300 keeps every
      // declared aggregate in codegen at any scale (same query, same
      // fields, regardless of sf); Janino failures past the JIT byte
      // limit still fall back gracefully, so the setting is monotone.
      .config("spark.sql.codegen.maxFields", "300")
      // JVM-wide LRU of Janino-compiled generated classes (default 100).
      // The lake re-runs the same declared queries, and their working set
      // is larger than that: the perfbench star queries compile ~250
      // distinct classes per pass (248 at sf0.001), docs ~110, and all 211
      // declared queries ~2,400 at sf0.001 after the ensure* set-up. At
      // 100 entries nearly every class was evicted before its next use,
      // so each steady pass paid Janino again plus HotSpot JIT on the
      // freshly loaded classes. 4096 holds all three; at ~30 KB of
      // bytecode per cached class it also caps the heap cost near 130 MB.
      // Only compiled code is cached and the key is the exact generated
      // source, so no result can change.
      // This is a static conf: `CodeGenerator` reads it once per JVM when
      // it first builds the cache, so it takes effect only because every
      // graft entry point builds its first session through this helper.
      // Spark 4.1 keys the cache by the thread's context class loader plus
      // the source text, and each session has its own artifact class
      // loader, so a session forked with `spark.newSession()` does not
      // reuse its parent's classes.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Keeps that cache key stable across runs of one query. By default
      // the whole-stage class name carries the codegen stage id, and AQE
      // numbers sibling stages in the order it creates them, which
      // varies with timing: q_ts_forecast's stages 3 and 4 swap ids
      // between runs, so identical code missed the cache under two names.
      // The id stays visible in the generated source's comment.
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")

  /** The session graft's `main`s run on: `local[cpus]` with `cpus` from
    * `SPARK_GRAFT_CPUS` (default 32), one shuffle partition per core, no
    * UI, WARN logging. */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
