package graft

import graft.sources.Scratch
import graft.streaming.CdcStream

/** A streaming twin's landed feed lives exactly as long as its replay:
  * each call lands its own input under the scratch root and removes it
  * when the query ends, so nothing one call lands outlives it or is
  * reused by the next (no JVM-level landing memo). Batch entries that
  * stage files write them to their own stable per-lake directory, so
  * repeated runs overwrite instead of piling up.
  */
class LandingZoneSpec extends SparkSpecBase {

  /** Entries directly under the scratch root made by `Scratch.dir(prefix)`. */
  private def landed(prefix: String): Set[String] =
    Option(new java.io.File(Scratch.root).list()).map(_.toSet).getOrElse(Set.empty)
      .filter(_.startsWith(prefix + "_"))

  // one memory-sink twin and one foreachBatch twin, with their feed prefixes
  Seq("stream_windowed_agg" -> "graft_evt_stream",
      "stream_ivf_append" -> "stream_ivf_feed").foreach { case (twin, prefix) =>
    test(s"$twin removes its landed feed when the replay ends") {
      val before = landed(prefix)
      assert(CdcStream.queries(twin)(spark, sf).count() > 0)
      assert(landed(prefix) -- before === Set.empty,
        s"$twin left its landed feed under ${Scratch.root}")
    }
  }

  test("cdc_stream_apply lands its own input on every call and returns the same rows") {
    val before = landed("graft_cdc_stream")
    def run() = CdcStream.queries("cdc_stream_apply")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val first = run()
    assert(first.nonEmpty && run() === first)
    assert(landed("graft_cdc_stream") -- before === Set.empty)
  }

  test("batch entries that stage files reuse one per-lake dir, not a fresh one per call") {
    val staging = Seq(
      "source_formats" -> Seq("graft_fmt"),
      "q_bucketed_join" -> Seq("graft_bucketed"),
      "layout_partition_write" -> Seq("graft_partwrite"),
      "snapshot_roundtrip" -> Seq("graft_snapshot"),
      "layout_compaction" -> Seq("graft_frag", "graft_compact"),
      "cdc_source_roundtrip" -> Seq("graft_cdc_feed"),
      "recon_report_export" -> Seq("graft_report"))
    val prefixes = staging.flatMap(_._2)
    val before = prefixes.map(p => p -> landed(p)).toMap
    for ((entry, _) <- staging; _ <- 1 to 2)
      assert(SparkEntry.queries(entry)(spark, sf).count() > 0, entry)
    for (p <- prefixes)
      assert(landed(p) -- before(p) === Set.empty,
        s"a fresh $p dir was left under ${Scratch.root}")
  }
}
