package perfbench

/** The store-layer metrics of a traced pass; the other layers' metrics
  * are put by the workload that drives them. */
object Layers {
  /** Store-layer totals from the spans of the `store` decorator. */
  def report(ctx: Ctx): Unit = {
    val appends = ctx.tracer.named("store.append")
    val reads = ctx.tracer.all.filter(_.name == "store.read")
    val heads = ctx.tracer.all.filter(_.name.endsWith(".head"))
    if (appends.nonEmpty) {
      val sum = appends.map(s => s.end - s.start).sum
      val busy = Tracer.unionNanos(appends)
      ctx.put("store.append.calls", appends.size, "count")
      ctx.put("store.append.busy_s", busy / 1e9, "s")
      ctx.put("store.append.queued_s", (sum - busy) / 1e9, "s")
      ctx.put("store.append.max_ms", appends.map(_.ms).max, "ms")
    }
    if (reads.nonEmpty) {
      ctx.put("store.read.calls", reads.size, "count")
      ctx.put("store.read.busy_s", Tracer.unionNanos(reads) / 1e9, "s")
      ctx.put("store.read.spark_jobs_per_call", ctx.jobs.get("store.read").jobs.toDouble / reads.size, "count")
      ctx.put("store.read.rows_per_call", ctx.tracer.counter("store.read.rows").toDouble / reads.size, "count")
    }
    if (heads.nonEmpty) {
      ctx.put("store.head.calls", heads.size, "count")
      ctx.put("store.head.busy_s", heads.map(_.ms).sum / 1e3, "s")
    }
  }
}
