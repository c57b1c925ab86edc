package graft

/** The `spark.sql.extensions` deployment path: the shared test session is
  * built through `GraftSession.configure`, which installs
  * `GraftExtensions`. Assertions run on a FRESH `newSession()`: its
  * function registry is rebuilt from the extension injections only, so a
  * sibling suite's runtime `GraftFunctions.register` call cannot mask a
  * broken extension wiring. */
class ExtensionsSpec extends SparkSpec {

  private lazy val fresh = spark.newSession()

  test("extension registers all graft functions at session build") {
    Seq("graft_dot", "graft_polyhash", "graft_top_k",
      "graft_sign_bits", "graft_token_hashes", "graft_ngram_hashes",
      "graft_ngram_hashes_wide", "graft_minhash_sigs").foreach { f =>
      assert(fresh.catalog.functionExists(f), s"$f missing from catalog")
    }
  }

  test("SQL users can call the functions directly") {
    // polyhash("ab") = ((0*31 + 97)*31 + 98) mod 1e9+7 = 3105
    assert(fresh.sql("SELECT graft_polyhash('ab')").head().getLong(0) === 3105L)
    assert(fresh.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head().getDouble(0) === 11.0)
    val topk = fresh.sql(
      "SELECT graft_top_k(x, 2) FROM VALUES (3.0d), (1.0d), (2.0d) AS t(x)")
      .head().getSeq[Double](0)
    assert(topk === Seq(1.0, 2.0))
  }

  test("SQL-text flagships equal their DataFrame siblings row for row") {
    import graft.ops.{Layout, Relational}
    assert(Relational.sqlPricingSummary(spark, sf).collect().toSeq
      === Relational.pricingSummary(spark, sf).collect().toSeq)
    // the native bounded-heap kernel reached purely through SQL text
    assert(Relational.sqlTopPartsPerBrand(spark, sf).collect().toSeq
      === Relational.topPartsPerBrandAgg(spark, sf).collect().toSeq)
    // time travel addressed inside the query text (parquet.`path`)
    assert(Layout.sqlTimeTravelDiff(spark, sf).collect().toSeq
      === Layout.timeTravelDiff(spark, sf).collect().toSeq)
  }

  test("graft_version table function: SQL time travel by store coordinates") {
    import graft.store.Snapshots
    val base = "graft_spec_tvf"
    Snapshots.retain(spark, base, keep = 0)
    Snapshots.publish(spark, spark.range(3).toDF("id"), base)
    Snapshots.publish(spark, spark.range(5).toDF("id"), base)
    // the TVF comes from the extension injection alone on this session —
    // no runtime register() call has touched `fresh`
    assert(fresh.sql(s"SELECT count(*) AS n FROM graft_version('$base', 1)")
      .head().getLong(0) === 3L)
    assert(fresh.sql(s"SELECT count(*) AS n FROM graft_version('$base', 2)")
      .head().getLong(0) === 5L)
    // a missing / uncommitted version fails exactly like the Scala read
    val e = intercept[Exception] {
      fresh.sql(s"SELECT * FROM graft_version('$base', 9)").collect()
    }
    assert(e.getMessage.contains("not committed") ||
      e.getMessage.contains("does not exist"), e.getMessage)
    Snapshots.retain(spark, base, keep = 0)
  }

  test("steady pass recompiles no generated class: the codegen cache holds the working set") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // perfbench's star query set: ~250 distinct generated classes per pass,
    // over Spark's default cache of 100 entries. Runs on the shared session,
    // not `fresh`: the cache is keyed per session class loader, and the
    // steady passes of every entry point run on the session it built.
    val star = Seq("q_bucket_join_revenue", "q_part_pruned_revenue",
      "q_mv_refresh", "q_evt_session", "q_graph_triangles",
      "q_sql_time_travel", "q_feat_onehot", "q_valid_doc_checks",
      "q_priv_kanon", "q_corr_stats", "q_er_clusters", "q_ts_forecast")
    def pass(): Seq[(Long, Long)] =
      star.map(q => Timing.evaluate(SparkEntry.queries(q)(spark, sf)))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val first = pass()
    val before = compiles.getCount
    val second = pass()
    assert(compiles.getCount - before === 0L,
      "Janino recompiled classes the first pass already compiled")
    assert(second === first)
  }
}
