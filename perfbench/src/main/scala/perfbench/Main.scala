package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Benchmark process. `perfbench/run.py` builds the classpath and starts
  * it as
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --root <checkout> --work <dir> --result <file.json>
  * perfbench.Main --record-digests <out.json> --root <checkout> --work <dir>
  * }}}
  *
  * and reads the result file it writes. Every metric is a plain number; the
  * runner adds host provenance and prints the contract's last line.
  */
object Main {

  val Workloads: Map[String, Env => Workload] = Map(
    "route_fixture" -> (e => new RouteFixture(e)),
    "match_wide" -> (e => new MatchWide(e)))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = new File(opts("root")).getAbsoluteFile
    val work = new File(opts("work")).getAbsoluteFile
    val cpus = Runtime.getRuntime.availableProcessors
    Heap.install()
    opts.get("record-digests") match {
      case Some(out) => recordDigests(root, work, cpus, new File(out))
      case None =>
        val env = new Env(root, work, cpus, opts("seed").toLong,
          opts("seconds").toDouble, opts("trace") == "1")
        val name = opts("workload")
        val wl = Workloads.getOrElse(name,
          sys.error(s"unknown workload $name; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
        Gen.evict(env.cacheDir, keep = 4)
        val t0 = System.nanoTime
        val out = env.tracer.span("workload")(wl(env).run())
        val wall = (System.nanoTime - t0) / 1e9
        val traceFile =
          if (env.traced) Some(writeTrace(env, name)) else None
        env.stop()
        writeResult(new File(opts("result")), name, env, out, wall, traceFile)
    }
  }

  private def recordDigests(root: File, work: File, cpus: Int, out: File): Unit = {
    val env = new Env(root, work, cpus, 0L, 0.0, traced = false)
    val tables = new File(root, "perfbench/data/sf0.01").getAbsolutePath
    env.start(cpus)
    val a = Digests.recordAll(env.spark, tables)
    env.start(cpus)
    val b = Digests.recordAll(env.spark, tables)
    env.stop()
    Digests.write(out, a, b)
  }

  private def toNode(m: ObjectMapper, v: Any): com.fasterxml.jackson.databind.JsonNode =
    v match {
      case null => m.nullNode()
      case d: Double => m.getNodeFactory.numberNode(d)
      case i: Int => m.getNodeFactory.numberNode(i)
      case l: Long => m.getNodeFactory.numberNode(l)
      case b: Boolean => m.getNodeFactory.booleanNode(b)
      case s: String => m.getNodeFactory.textNode(s)
      case mm: scala.collection.Map[_, _] =>
        val o = m.createObjectNode()
        mm.foreach { case (k, x) => o.set[ObjectNode](k.toString, toNode(m, x)) }
        o
      case s: Iterable[_] =>
        val a = m.createArrayNode()
        s.foreach(x => a.add(toNode(m, x)))
        a
      case x => m.getNodeFactory.textNode(x.toString)
    }

  private def writeResult(f: File, name: String, env: Env, o: Outcome,
      wall: Double, traceFile: Option[File]): Unit = {
    val m = new ObjectMapper()
    val rt = Runtime.getRuntime
    val res = scala.collection.immutable.ListMap(
      "workload" -> name,
      "seed" -> env.seed,
      "seconds" -> env.seconds,
      "trace" -> env.traced,
      "e2e" -> o.e2e,
      "report" -> o.report,
      "layers" -> o.layers,
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "checks" -> o.checks.map { case (n, ok) => Map("name" -> n, "ok" -> ok) },
      "inputs" -> o.inputs,
      "host" -> Map(
        "cpus" -> env.cpus,
        "driver_heap_mb" -> rt.maxMemory / (1024 * 1024),
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> org.apache.spark.SPARK_VERSION,
        "scala" -> scala.util.Properties.versionNumberString),
      "process_wall_s" -> wall,
      "trace_file" -> traceFile.map(_.getPath).orNull)
    m.writerWithDefaultPrettyPrinter().writeValue(f, toNode(m, res))
  }

  /** All spans of the run, Spark jobs and stages included, with self
    * times, as one JSON file under the work dir.
    */
  private def writeTrace(env: Env, name: String): File = {
    import Tracer.Span
    Thread.sleep(300)
    val (jobs, stages) = env.allJobs
    val bench = env.tracer.spans.toSeq
    val jobSpans = jobs.map { j =>
      j -> Span(0, j.span, s"job ${j.site}", "spark.job", j.start, j.end,
        scala.collection.mutable.LinkedHashMap("job_id" -> j.id,
          "last_task_end_ms" -> (j.lastTaskEnd - j.start) / 1e6,
          "failed" -> j.failed))
    }
    env.tracer.adopt(jobSpans.map(_._2))
    val byJob = jobSpans.map { case (j, sp) => (j.gen, j.id) -> sp }.toMap
    val stageSpans = stages.flatMap { s =>
      byJob.get((s.gen, s.job)).map { js =>
          Span(0, js.id, s"stage ${s.id} ${s.name}", "spark.stage", s.start, s.end,
            scala.collection.mutable.LinkedHashMap("tasks" -> s.tasks,
              "task_run_s" -> s.runMs / 1e3, "task_cpu_s" -> s.cpuNs / 1e9,
              "gc_s" -> s.gcMs / 1e3, "input_bytes" -> s.inputBytes,
              "output_bytes" -> s.outputBytes,
              "shuffle_read_bytes" -> s.shuffleRead,
              "shuffle_write_bytes" -> s.shuffleWrite,
              "spill_bytes" -> s.spill, "failed_tasks" -> s.failedTasks))
        }
    }
    env.tracer.adopt(stageSpans)
    val all = env.tracer.spans.toSeq
    val self = Tracer.selfTimes(all)
    val t0 = if (bench.isEmpty) 0L else bench.map(_.start).min
    val dir = new File(env.work, "traces")
    dir.mkdirs()
    val f = new File(dir, s"$name-s${env.seed}-${System.currentTimeMillis}.json")
    val m = new ObjectMapper()
    val spans = all.map { s =>
      scala.collection.immutable.ListMap("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "kind" -> s.kind,
        "start_ms" -> (s.start - t0) / 1e6, "dur_ms" -> (s.end - s.start) / 1e6,
        "self_ms" -> self.getOrElse(s.id, 0L) / 1e6, "attrs" -> s.attrs)
    }
    m.writeValue(f, toNode(m, Map("workload" -> name, "seed" -> env.seed,
      "spans" -> spans)))
    f
  }
}
