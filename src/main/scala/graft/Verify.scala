package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (fast iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.local(cpus.toInt, cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1)))
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // stdout: sbt tags every stderr line [error], and a pass is not one
        println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      graft.core.CachedRdds.drain()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // External-reader proof: when the phrase search was dumped, record
    // the stored index's on-disk location so the DuckDB side can
    // reproduce q_c103 FROM THE ARTIFACT FILES ALONE (no corpus view) —
    // the engine-neutrality claim for the stored-index family. Serving
    // from the SessionMemo stored entry here costs no rebuild: q_c103's dump
    // above already built it for this (dir, snapshot) key.
    // a query may contribute SEVERAL keys (a segments dir + its
    // compacted dir) — each key carries ONE path, never a delimited
    // pack (ADVICE round 16: the old space-joined bm25_segments value
    // broke silently for any artifact root containing a space)
    val idxEntries = Seq[(String, Seq[(String, () => String)])](
      "q_c103_phrase_search" -> Seq("phrase_index" ->
        (() => graft.operators.TextQueries.phraseIndex(spark, sfDir))),
      "q_c45_bm25_stored" -> Seq("bm25_index" ->
        (() => graft.operators.TextQueries.postingsIndex(spark, sfDir))),
      "q_c66_minhash_stored" -> Seq("minhash_index" ->
        (() => graft.operators.DedupQueries.minhashIndex(spark, sfDir))),
      "q_c138_classifier_scores" -> Seq("cls_model" ->
        (() => graft.operators.QualityClassifierTrainer.modelArtifact(spark, sfDir))),
      "q_c143_model_drift" -> Seq("cls_model_drift" ->
        (() => graft.operators.QualityClassifierTrainer.modelArtifact(spark, sfDir))),
      "q_c147_retrain_on_drift" -> Seq(
        "cls_model_pre" ->
          (() => graft.operators.QualityClassifierTrainer.modelArtifact(spark, sfDir)),
        "cls_model_post" ->
          (() => graft.operators.QualityClassifierTrainer.retrainedArtifact(spark, sfDir))),
      "q_c131_ivf_stage1" -> Seq("ivf_index" ->
        (() => graft.operators.SimilarityQueries.int8CompactedIndex(
          spark, graft.operators.SimilarityQueries.int8SegmentsIndex(spark, sfDir)))),
      "q_c141_retirement_gc" -> Seq("bm25_gc" ->
        (() => graft.operators.TextQueries.bm25GcIndex(spark, sfDir))),
      "q_c144_minhash_gc" -> Seq("minhash_gc" ->
        (() => graft.operators.DedupQueries.minhashGcIndex(spark, sfDir))),
      "q_c145_ivf_gc" -> Seq("ivf_gc" ->
        (() => graft.operators.SimilarityQueries.int8GcIndex(spark, sfDir))),
      "q_c146_phrase_gc" -> Seq("phrase_gc" ->
        (() => graft.operators.TextQueries.phraseGcIndex(spark, sfDir))),
      // q_c148 re-emits the four GC keys so the audit replay works on a
      // subset run too; duplicate keys carry identical session-cached
      // paths (JSON last-wins)
      "q_c148_gc_audit" -> Seq(
        "bm25_gc" -> (() => graft.operators.TextQueries.bm25GcIndex(spark, sfDir)),
        "minhash_gc" -> (() => graft.operators.DedupQueries.minhashGcIndex(spark, sfDir)),
        "ivf_gc" -> (() => graft.operators.SimilarityQueries.int8GcIndex(spark, sfDir)),
        "phrase_gc" -> (() => graft.operators.TextQueries.phraseGcIndex(spark, sfDir))),
      "q_c133_segment_retirement" -> {
        lazy val seg = graft.operators.TextQueries.bm25SegmentsIndex(spark, sfDir)
        Seq("bm25_segments" -> (() => seg),
          "bm25_compacted" ->
            (() => graft.operators.TextQueries.bm25CompactedIndex(spark, seg)))
      },
      "q_c134_minhash_retirement" -> {
        lazy val seg = graft.operators.DedupQueries.minhashSegmentsIndex(spark, sfDir)
        Seq("minhash_segments" -> (() => seg),
          "minhash_compacted" ->
            (() => graft.operators.DedupQueries.minhashCompactedIndex(spark, seg)))
      },
      "q_c135_ivf_retirement" -> {
        lazy val seg = graft.operators.SimilarityQueries.int8SegmentsIndex(spark, sfDir)
        Seq("ivf_segments" -> (() => seg),
          "ivf_compacted" ->
            (() => graft.operators.SimilarityQueries.int8CompactedIndex(spark, seg)))
      },
      "q_c136_phrase_retirement" -> {
        lazy val seg = graft.operators.TextQueries.phraseSegmentsIndex(spark, sfDir)
        Seq("phrase_segments" -> (() => seg),
          "phrase_compacted" ->
            (() => graft.operators.TextQueries.phraseCompactedIndex(spark, seg)))
      }
    ).collect {
      // both conditions: the query must have been SELECTED this run (a
      // subset re-run into a reused outDir must not rebuild indexes it
      // never asked for, nor pair fresh index paths with stale dumps)
      // and its dump must exist (the dump may have failed)
      case (qn, keyed)
          if only.forall(_.contains(qn))
            && Files.exists(Paths.get(s"$outDir/$qn")) =>
        keyed.map { case (key, path) => s"${q(key)}: ${q(path())}" }
    }.flatten
    if (idxEntries.nonEmpty)
      Files.writeString(Paths.get(s"$outDir/index_paths.json"),
        idxEntries.mkString("{", ",", "}"))
    spark.stop()
  }
}
