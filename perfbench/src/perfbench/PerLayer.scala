package perfbench

/** Per-layer figures of a traced run: for every phase, the median over the
  * run's operations of each span counter. A phase the workload does not
  * run reports 0 for every counter. */
object PerLayer {

  /** Phases of a batch operation, named after the public call they wrap. */
  val batchPhases = Seq("operators.concat_tf", "training.estimate_u",
    "training.em", "operators.blocking", "operators.predict", "clustering.cc",
    "clustering.multi_threshold", "clustering.graph_metrics",
    "operators.materialise")
  val findMatches = "linker.find_matches"

  /** The CC phase ran the distributed loop when it issued more jobs than
    * the driver union-find path does (about 7: a size probe, a collect and
    * the node join); the distributed loop issues 40 or more. */
  val DriverPathMaxJobs = 20

  def metrics(spans: Seq[Span], walls: Seq[Double]): Seq[(String, Double, String)] = {
    import Main.{median, quantile}
    val by = spans.groupBy(_.name)
    def med(name: String)(f: Span => Double): Double =
      by.get(name).map(s => median(s.map(f))).getOrElse(0.0)
    def x(s: Span, k: String) = s.extra.getOrElse(k, 0.0)

    val out = Seq.newBuilder[(String, Double, String)]
    batchPhases.foreach { p =>
      val m = med(p) _
      out += ((s"$p.wall_s", m(_.wallS), "s"))
      out += ((s"$p.driver_s", m(_.driverMs / 1e3), "s"))
      out += ((s"$p.jobs", m(_.jobs.toDouble), "count"))
      out += ((s"$p.tasks", m(_.tasks.toDouble), "count"))
      out += ((s"$p.task_cpu_s", m(_.taskCpuMs / 1e3), "s"))
      out += ((s"$p.gc_s", m(_.gcMs / 1e3), "s"))
      out += ((s"$p.shuffle_write_mb", m(_.shuffleWriteBytes / 1e6), "MB"))
      out += ((s"$p.spill_mb", m(_.spillBytes / 1e6), "MB"))
      out += ((s"$p.rows_out", m(x(_, "rows_out")), "count"))
    }
    out += (("training.em.iterations",
      med("training.em")(x(_, "iterations")), "count"))
    out += (("operators.blocking.pairs_per_record",
      med("operators.blocking")(x(_, "pairs_per_record")), "ratio"))
    out += (("operators.predict.kept_per_scored",
      med("operators.predict")(x(_, "kept_per_scored")), "ratio"))
    out += (("operators.predict.pairs_per_cpu_s",
      med("operators.predict")(s =>
        if (s.taskCpuMs <= 0) 0.0 else x(s, "scored_pairs") / (s.taskCpuMs / 1e3)),
      "1/s"))
    out += (("clustering.cc.distributed",
      med("clustering.cc")(s => if (s.jobs > DriverPathMaxJobs) 1.0 else 0.0),
      "bool"))
    Seq("clustering.cc", "clustering.multi_threshold",
      "clustering.graph_metrics").foreach { p =>
      out += ((s"$p.peak_heap_mb", med(p)(_.peakHeapBytes / 1e6), "MB"))
    }
    out += (("operators.materialise.cached_mb_after",
      med("operators.materialise")(x(_, "cached_mb_after")), "MB"))

    // find-matches: per-call figures
    val calls = by.getOrElse(findMatches, Nil)
    def call(f: Span => Double) = if (calls.isEmpty) 0.0 else median(calls.map(f))
    val fm = findMatches
    out += ((s"$fm.wall_p50_ms",
      if (calls.isEmpty) 0.0 else quantile(calls.map(_.wallS * 1e3), 0.5), "ms"))
    out += ((s"$fm.wall_p90_ms",
      if (calls.isEmpty) 0.0 else quantile(calls.map(_.wallS * 1e3), 0.9), "ms"))
    out += ((s"$fm.driver_ms", call(_.driverMs.toDouble), "ms"))
    out += ((s"$fm.jobs", call(_.jobs.toDouble), "count"))
    out += ((s"$fm.tasks", call(_.tasks.toDouble), "count"))
    out += ((s"$fm.task_cpu_ms", call(_.taskCpuMs), "ms"))
    out += ((s"$fm.gc_ms", call(_.gcMs.toDouble), "ms"))
    out += ((s"$fm.shuffle_write_mb", call(_.shuffleWriteBytes / 1e6), "MB"))
    out += ((s"$fm.input_mb", call(_.inputBytes / 1e6), "MB"))
    out += ((s"$fm.rows_out", call(x(_, "rows_out")), "count"))

    // wall time of the traced operation: the tracing overhead is this
    // minus the untraced run's wall_s on the same seed (compare.py)
    out += (("trace.wall_s", if (walls.isEmpty) 0.0 else median(walls), "s"))
    out.result()
  }
}
