package graft

/** Every catalog row that reaches a pinning operator, run twice in the
  * shared session the way the harnesses run a row (one `CacheScope.scoped`
  * block around building and collecting it): the second run must leave
  * the persisted-RDD set exactly as the first left it, so a long-lived
  * session does not grow by one frame per call.
  */
class PinLeakSpec extends SparkSpec {

  private val pinningRows = Seq(
    "pipeline_clean_corpus",
    "dedup_minhash_lsh", "dedup_groups_lsh", "dedup_groups_incremental",
    "multimodal_image_dedup", "multimodal_audio_dedup",
    "dedup_ngram_spans", "dedup_ngram_spans_clean",
    "pipeline_decontaminate_spans", "pipeline_decontaminate_spans_clean",
    "quantiles_per_group", "events_value_quantiles_exact",
    "histogram_equidepth_per_group", "pipeline_quality_tiers",
    "pipeline_token_budget", "text_tfidf_topk", "text_lm_score",
    "dedup_semantic_pinned", "pipeline_stream_decontam")

  /** `persistentRdds` holds its RDDs weakly: draining the listener bus
    * (whose queued events still reference the last query) and a GC first
    * drop the ones only a finished result referenced (a connected-
    * components result's checkpoint), which are not pins. */
  private def persisted: Set[Int] = {
    org.apache.spark.graftest.ListenerDrain.drain(spark.sparkContext)
    System.gc()
    spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  test("a second run of each pinning catalog row leaves the persisted RDDs as the first left them") {
    pinningRows.foreach { name =>
      def run(): Unit = CacheScope.scoped(SparkEntry.queries(name)(spark, sf).collect())
      run()
      val first = persisted
      run()
      val second = persisted
      val left = second.diff(first).flatMap(spark.sparkContext.getPersistentRDDs.get)
      assert(second == first, s"$name: the second run left persisted ${left.map(_.toDebugString)}")
    }
  }

  test("one scoped run of the streaming decontamination gate leaves no persisted RDD") {
    // the gate pins its eval-gram set into the caller's scope: nothing
    // may outlive the run, not even on the first run of a session
    val before = persisted
    CacheScope.scoped(SparkEntry.queries("pipeline_stream_decontam")(spark, sf).collect())
    val after = persisted
    val left = after.diff(before).flatMap(spark.sparkContext.getPersistentRDDs.get)
    assert(after.diff(before).isEmpty,
      s"pipeline_stream_decontam left persisted ${left.map(_.toDebugString)}")
  }
}
