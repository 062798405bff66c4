package perfbench

/** Entry point of one benchmark run inside the JVM. Writes the raw result
  * (samples, checks, per-layer values) as JSON to `--out`; perfbench/run.py
  * turns it into the reported metrics. */
object Main {
  private val startNs = System.nanoTime()

  /** Seconds since the JVM entered main. */
  def sinceStartS: Double = (System.nanoTime() - startNs) / 1e9

  /** Self time per layer and span count of a traced run, per traced
    * operation. */
  def traceLayers(res: Result, tracers: Seq[Tracer], ops: Int): Unit = {
    val n = math.max(ops, 1).toDouble
    Seq("bench", "streaming", "operators", "ops", "control", "queries").foreach { l =>
      res.layers(s"trace.self_ms.$l") = tracers.map(_.selfMsByLayer.getOrElse(l, 0.0)).sum / n
    }
    res.layers("trace.spans") = tracers.map(_.count).sum.toDouble
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val res = new Result(a)
    a.workload match {
      case "vetl_stream" => VetlStream.run(a, res)
      case "catalog_batch" => CatalogBatch.run(a, res)
      case "online_kernels" => OnlineKernels.run(a, res)
      case w => sys.error(s"unknown workload $w")
    }
    val out = new java.io.PrintWriter(a.out, "UTF-8")
    try out.print(res.render(Map("peak_rss_mb" -> Jvm.peakRssMb)))
    finally out.close()
    // Spark's non-daemon threads must not keep the JVM alive
    sys.exit(0)
  }
}
