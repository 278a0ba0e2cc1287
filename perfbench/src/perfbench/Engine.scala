package perfbench

/** `engine`: the search engine's read path and then its write path over one
  * index, in one JVM so both share the cold cost of the Spark build paths.
  * Set-up builds the index; the window's first half is the read phase
  * ([[Serve]]), its second half the write phase ([[Ingest]]). The read
  * phase is checked before any write touches the index. `work_s` is the op
  * time of the fixed work of both phases.
  */
object Engine {
  def run(ctx: Ctx): WorkloadResult = {
    val read = Serve.run(ctx)
    val write = Ingest.run(ctx, read.index, read.src)
    WorkloadResult(
      e2e = read.result.e2e + ("heap_peak_mb" -> ctx.rec.heapPeakMb) +
        ("work_s" -> (read.opMs / 1000 + write.e2e("work_s"))),
      report = read.result.report ++ write.report,
      layers = read.result.layers ++ write.layers,
      mismatches = read.result.mismatches ++ write.mismatches)
  }
}
