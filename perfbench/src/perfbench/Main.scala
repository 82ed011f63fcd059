package perfbench

/** One benchmark run inside the JVM:
  * `perfbench.Main <workload> <run dir> <seconds> <trace 0|1> <cpus> <seed>`.
  *
  * Reads the generated inputs under `<run dir>/input`, runs the
  * workload and writes `<run dir>/result.json`; the launcher
  * (`perfbench/run.py`) finishes the output checks and prints the result.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, runDir, seconds, trace, cpus, seed) = args
    val ctx = Ctx(workload, runDir, seconds.toInt, trace == "1", cpus.toInt, seed.toLong)
    val out = new Outcome
    val tracer = new Tracer(ctx.trace, ctx.cpus)
    val spark = workload match {
      case "etl_service" => Etl.run(ctx, out, tracer)
      case "flow_dashboard" => Dash.run(ctx, out, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    out.metric("heap_retained_mb", Common.heapRetainedMb(), 1)
    if (ctx.trace) {
      out.layers ++= tracer.layers(out.attempted)
      out.detail("windows") = tracer.windowDetail
      // each layer's entry points timed on their own, after everything
      // the end-to-end metrics measure
      workload match {
        case "etl_service" => Etl.isolatedLayers(ctx, out, spark)
        case "flow_dashboard" => Curation.layers(ctx, out, spark)
      }
    }
    spark.stop()
    Common.writeFile(ctx.path("result.json"), Common.json(Map(
      "workload" -> workload, "seed" -> ctx.seed, "cpus" -> ctx.cpus,
      "trace" -> ctx.trace, "seconds" -> ctx.seconds,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> out.metrics, "samples" -> out.samples,
      "layers" -> out.layers, "detail" -> out.detail, "checks" -> out.checks)))
  }
}
