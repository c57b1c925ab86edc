package graft

import org.apache.spark.sql.types.{ArrayType, MapType}

/** Driver-harness compatibility contracts over the DECLARED query surface
  * (round-9 verdict #1 and #7) — these pin the interface the verify
  * driver consumes, so a harness-compat break is a red spec here instead
  * of a red row in CORRECTNESS_r{N}.json.
  */
class ContractSpec extends SparkSpec {

  /** The EXACT set of declared queries allowed to ship without a DuckDB
    * oracle, each tied to the spec/property that makes rows-only honest
    * (round-9 verdict #7). Adding a rows-only query without enlisting it
    * here — with its irreducibility reason — fails the build.
    */
  private val rowsOnlyContract: Map[String, String] = Map(
    "q_approx_distinct" -> ("HLL sketch: engine-specific estimator by " +
      "nature; RelationalSpec pins a relative-error tolerance vs exact " +
      "countDistinct"),
    "q_approx_percentiles" -> ("KLL/GK sketch: engine-specific estimator; " +
      "RelationalSpec pins rank-error tolerance vs exact percentiles"),
    "q_sketch_rollup" -> ("partial-sketch merge across rollup levels: " +
      "engine-specific registers; RelationalSpec pins tolerance + " +
      "merge-vs-rebuild consistency"),
    "q_sample_bernoulli" -> ("seeded engine RNG stream: DuckDB cannot " +
      "replay Spark's XORShift; RelationalSpec pins rate tolerance + " +
      "determinism across reruns"),
    "q_synth_features" -> ("reference R1-R3 seeded generator: engine RNG " +
      "by design; partition-invariance + moment specs, and the " +
      "q_histogram_features/q_kde_features twins hash-check its dump"),
    "q_ml_rf_confusion" -> ("MLlib RF fit is not portable arithmetic; " +
      "MLSpec pins an accuracy floor + seed determinism"),
    "q_dedup_exact_hash" -> ("xxhash64 grouping key: engine-specific " +
      "hash by design; DedupSpec pins parity with the hash-free exact " +
      "dedup (same survivors)"),
    "q_text_fingerprint_fast" -> ("xxhash64 rolling fingerprint: " +
      "engine-specific hash; TextSpec pins parity with the " +
      "polynomial-hash twin that IS oracle-checked"),
    "q_sim_sign_index" -> ("published sign-index dump: plane geometry is " +
      "engine-specific; its bits are the INPUT the hash-checked " +
      "q_sim_ann_topk/q_sim_semdedup_lsh/q_sim_range twins replay"),
    "q_dedup_embed_signs" -> ("live-signing dump: plane geometry is " +
      "engine-specific; its words are the INPUT the hash-checked " +
      "q_dedup_embed_lsh twin replays (banding + cosine verify)"),
    "q_sim_ivf_centroids" -> ("k-means fit is engine-specific (seeded " +
      "kmeans++ on a bounded sample); its centroids are the INPUT the " +
      "hash-checked q_sim_ivf_topk twin replays end to end"),
    "q_sim_pq_codebooks" -> ("per-subspace k-means fit is engine-specific " +
      "(seeded kmeans++ on a bounded sample); its centroids are the INPUT " +
      "the hash-checked q_sim_pq_codes/q_sim_pq_topk/q_sim_ivfpq_topk " +
      "twins replay end to end"),
    "q_sim_rpq_codebooks" -> ("residual per-subspace k-means fit is " +
      "engine-specific (seeded kmeans++ on a bounded sample of coarse-cell " +
      "residuals); its centroids are the INPUT the hash-checked " +
      "q_sim_rpq_codes/q_sim_ivfrpq_topk twins replay end to end"),
    "q_sim_pca_components" -> ("LAPACK eigensolver fit is engine-specific; " +
      "its mean+components floats are the INPUT the hash-checked " +
      "q_sim_pca_project twin replays; SimilaritySpec pins orthonormality, " +
      "non-increasing explained variance, and rerun determinism"),
    "q_text_bpe_merges" -> ("iterative greedy-BPE argmax fit on the " +
      "bounded word-count table is engine-specific by nature; its ranked " +
      "merge pairs are the INPUT the hash-checked q_text_bpe twin replays " +
      "end to end (the q_sim_pq_codebooks pattern); TextSpec pins a " +
      "planted-vocab fit + encode round-trip"))

  test("registry: every query name is declared once") {
    // a duplicate would silently replace the earlier entry in the
    // derived SparkEntry.queries / oracleSql maps
    val dups = SparkEntry.registry.groupBy(_.name).collect {
      case (name, specs) if specs.size > 1 => name
    }
    assert(dups.isEmpty, s"names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
  }

  test("rows-only set: exactly the enlisted irreducible queries") {
    val rowsOnly = SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name).toSet
    val unlisted = rowsOnly -- rowsOnlyContract.keySet
    val stale = rowsOnlyContract.keySet -- rowsOnly
    assert(unlisted.isEmpty, s"rows-only queries without a declared " +
      s"irreducibility reason: ${unlisted.toSeq.sorted.mkString(", ")} — " +
      "either add an oracleSql entry or enlist them in rowsOnlyContract " +
      "with the spec that makes rows-only honest")
    assert(stale.isEmpty, s"rowsOnlyContract entries that are no longer " +
      s"rows-only (or no longer declared): ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("every oracle SQL is fully rendered: no ${ left in it") {
    // an oracle string written """ where s""" was meant keeps its
    // interpolations as literal text, which only fails once DuckDB runs
    // it; a JSONPath like '$.k' (q_evt_json_props) stays legal
    val unrendered = SparkEntry.oracleSql.collect {
      case (name, sql) if sql.contains("${") => name
    }
    assert(unrendered.isEmpty, "oracle SQL with an unrendered interpolation: " +
      unrendered.toSeq.sorted.mkString(", "))
  }

  test("no declared query emits a top-level array/map column") {
    // The verify driver records results through pandas sort_values, which
    // cannot factorize array/map cells — a nested top-level column crashes
    // the recording even when the parquet dump is fine (round-9 verdict
    // #1: q_dedup_embed_signs / q_sim_ivf_centroids). Schema resolution is
    // lazy, so this sweeps all declared queries without executing them.
    val offenders = SparkEntry.registry.flatMap { q =>
      val nested = q.build(spark, sf).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType]
          || f.dataType.isInstanceOf[MapType] => f.name
      }
      if (nested.isEmpty) None
      else Some(s"${q.name}(${nested.mkString(",")})")
    }
    assert(offenders.isEmpty,
      s"declared queries with harness-breaking top-level array/map " +
        s"columns: ${offenders.mkString("; ")} — explode to scalar rows " +
        "or encode, and rebuild in the oracle twin (see " +
        "Dedup.embeddingSignBits / Similarity.ivfCentroidsDump)")
  }
}
