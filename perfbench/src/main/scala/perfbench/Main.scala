package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace
  * <0|1>`. Prints one JSON result line last on stdout; provenance and the
  * per-layer tables go to stderr and to `<root>/result.json`.
  *
  * Every workload is a closed loop of one client in one process: an op
  * starts when the previous one has finished. Ops run in passes over the
  * workload's op list until `--seconds` have been spent in timed ops. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      corrupt: Boolean, root: Path, faces: String)

  /** One timed operation: `build` makes the DataFrame (planning, eager
    * jobs), `exec` runs it. `family` groups faces for per-layer numbers. */
  final case class Op(name: String, family: String, build: () => DataFrame,
      exec: DataFrame => Unit)

  final case class Sample(op: Op, seconds: Double, buildS: Double, execS: Double,
      failed: Boolean)

  /** What a workload hands the timing loop. */
  trait Workload {
    /** Builds the fixture once; called several times to time set-up. */
    def buildFixture(i: Int): Unit
    /** Untimed warm-up plus output checks; a failed check adds the op name
      * to `failedChecks` (every sample of it then fails). */
    def warmUp(): Unit
    def passOps(pass: Int): Seq[Op]
    /** Rows x columns one pass delivers. */
    def cellsPerPass: Long
    def failedChecks: mutable.Set[String]
    /** Layer probes of the traced run, as per-layer metrics; `opMedians`
      * maps `<op>.build_s` and `<op>.exec_s` to per-pass medians. */
    def probes(tr: Tracer, opMedians: Map[String, Double]): Map[String, Double]
    def provenance: Seq[(String, String)]
    /** Deletes the fixture files; result and spans stay. */
    def cleanup(): Unit
  }

  val Families: Seq[String] = Seq("q", "tpch", "dd", "sim", "txt", "st", "pipeline", "emb", "mm")

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = need("workload")
    val seed = need("seed").toLong
    Args(wl, seed, need("seconds").toInt.max(1), need("trace") == "1",
      argv.contains("--corrupt-expected"),
      Paths.get(m.getOrElse("root", ".bench_tmp")).toAbsolutePath.resolve(s"$wl-seed$seed"),
      m.getOrElse("faces", "perfbench/faces.tsv"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val code = try run(args) catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run failed: $e")
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  def run(args: Args): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = Util.loadavg()
    val n = math.min(Runtime.getRuntime.availableProcessors, 4)
    Util.deleteTree(args.root)
    Files.createDirectories(args.root)
    val spark = Session.build(n, args.root)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer(args.trace)
    val wl: Workload = args.workload match {
      case "xlsx_foreign" => new XlsxForeign(spark, args, n)
      case "query_mix" => new QueryMix(spark, args, n)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up is timed several times: the fixture is built three times and
    // the median build enters setup_s with the session start and warm-up
    val builds = (0 until 3).map { i =>
      val t0 = Util.now(); wl.buildFixture(i); Util.secs(t0, Util.now())
    }
    val w0 = Util.now()
    wl.warmUp()
    val warmS = Util.secs(w0, Util.now())
    val setupS = sessionS + Util.median(builds) + warmS

    val listener = new OpListener
    val samples = ArrayBuffer.empty[Sample]
    val passTimes = ArrayBuffer.empty[(Boolean, Double)]
    val perPass = ArrayBuffer.empty[Map[String, Double]]
    var heapMax = 0L
    val mem = ManagementFactory.getMemoryMXBean
    val sc = spark.sparkContext

    def runPasses(budgetS: Double, traced: Boolean): Unit = {
      if (traced) sc.addSparkListener(listener)
      var spent = 0.0
      var pass = 0
      while (spent < budgetS || pass == 0) {
        val ops = wl.passOps(passTimes.size)
        var passS = 0.0
        val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
        ops.foreach { op =>
          System.gc()
          heapMax = math.max(heapMax, mem.getHeapMemoryUsage.getUsed)
          val opId = s"${op.name}#${samples.size}"
          if (traced) sc.setLocalProperty(listener.OpKey, opId + "/build")
          var failed = false
          val t0 = Util.now()
          var t1 = t0
          tracer("op", opId) {
            try {
              val df = tracer("build") { val d = op.build(); d.queryExecution.executedPlan; d }
              t1 = Util.now()
              if (traced) sc.setLocalProperty(listener.OpKey, opId + "/exec")
              tracer("exec") { op.exec(df) }
            } catch {
              case e: Exception =>
                failed = true
                System.err.println(s"perfbench: op ${op.name} failed: $e")
            }
          }
          val t2 = Util.now()
          if (t1 == t0) t1 = t2
          val s = Sample(op, Util.secs(t0, t2), Util.secs(t0, t1), Util.secs(t1, t2), failed)
          samples += s
          passS += s.seconds
          if (traced) {
            sc.setLocalProperty(listener.OpKey, null)
            org.apache.spark.PerfbenchBus.drain(sc)
            val b = listener.take(opId + "/build"); val x = listener.take(opId + "/exec")
            layer("spark.build_s") += s.buildS
            layer("spark.exec_s") += s.execS
            layer("spark.build_jobs") += b.jobs
            layer("spark.jobs") += b.jobs + x.jobs
            layer("spark.stages") += b.stages + x.stages
            layer("spark.tasks") += b.tasks + x.tasks
            layer("spark.executor_run_s") += (b.runMs + x.runMs) / 1000.0
            layer("spark.executor_cpu_s") += (b.cpuNs + x.cpuNs) / 1e9
            layer("spark.gc_s") += (b.gcMs + x.gcMs) / 1000.0
            layer("spark.shuffle_read_bytes") += (b.shuffleRead + x.shuffleRead).toDouble
            layer("spark.shuffle_write_bytes") += (b.shuffleWrite + x.shuffleWrite).toDouble
            layer("spark.spill_bytes") += (b.spill + x.spill).toDouble
            layer(s"family.${op.family}.build_s") += s.buildS
            layer(s"family.${op.family}.exec_s") += s.execS
            layer(s"family.${op.family}.jobs") += b.jobs + x.jobs
            layer(s"op.${op.name}.build_s") += s.buildS
            layer(s"op.${op.name}.exec_s") += s.execS
            layer("xlsx.leftover_threads") = math.max(layer("xlsx.leftover_threads"), leftoverThreads())
          }
        }
        passTimes += traced -> passS
        if (traced) {
          val wall = layer("spark.build_s") + layer("spark.exec_s")
          layer("spark.core_idle_ratio") = 1.0 - layer("spark.executor_run_s") / (wall * n)
          perPass += layer.toMap
        }
        spent += passS
        pass += 1
      }
      if (traced) sc.removeSparkListener(listener)
    }

    if (args.trace) {
      runPasses(args.seconds / 2.0, traced = false)
      runPasses(args.seconds / 2.0, traced = true)
    } else runPasses(args.seconds.toDouble, traced = false)

    val bad = wl.failedChecks
    def isFailed(s: Sample) = s.failed || bad(s.op.name)
    val attempted = samples.size
    val failed = samples.count(isFailed)
    val correct = failed == 0 && bad.isEmpty

    def timesOf(ss: Seq[Sample]) = ss.map(s => if (isFailed(s)) Double.PositiveInfinity else s.seconds)
    val (tailV, tailP, tailN) = Util.tail(timesOf(samples.toSeq))
    val passS = Util.median(passTimes.filterNot(_._1).map(_._2).toSeq)

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", passS, "s"),
        ("op_p50_s", Util.median(timesOf(samples.toSeq)), "s"),
        ("op_tail_s", tailV, "s"),
        ("cells_per_s", wl.cellsPerPass / passS, "cells/s"),
        ("retained_heap_mib", heapMax / 1048576.0, "MiB"))
      else {
        val layerMed: Map[String, Double] =
          perPass.flatMap(_.keys).distinct.map(k => k -> Util.median(perPass.map(_.getOrElse(k, 0.0)).toSeq)).toMap
        val tracedPass = Util.median(passTimes.filter(_._1).map(_._2).toSeq)
        val opMedians = layerMed.collect { case (k, v) if k.startsWith("op.") => k.stripPrefix("op.") -> v }
        val probed = wl.probes(tracer, opMedians)
        val all = layerMed ++ probed ++ Map(
          "trace.overhead_ratio" -> (tracedPass / passS - 1.0),
          "trace.spans" -> tracer.spans.size.toDouble)
        PerLayer.names.map { case (k, unit) => (k, all.getOrElse(k, 0.0), unit) }
      }

    val prov = Seq(
      "workload" -> Util.jsonString(args.workload),
      "seed" -> args.seed.toString,
      "n" -> n.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "loadavg_1m_start" -> Util.jsonNumber(load0),
      "xmx_mib" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "trace" -> args.trace.toString,
      "session_s" -> Util.jsonNumber(sessionS),
      "fixture_builds_s" -> builds.map(Util.jsonNumber).mkString("[", ",", "]"),
      "warmup_s" -> Util.jsonNumber(warmS),
      "passes" -> passTimes.size.toString,
      "op_fail_ratio" -> Util.jsonNumber(failed.toDouble / attempted),
      "failed_checks" -> bad.toSeq.sorted.map(Util.jsonString).mkString("[", ",", "]"),
      "op_tail" -> s"""{"percentile":$tailP,"samples":$tailN}""",
      "op_median_s" -> samples.groupBy(_.op.name).toSeq.sortBy(_._1).map { case (k, ss) =>
        s"${Util.jsonString(k)}: ${Util.jsonNumber(Util.median(timesOf(ss.toSeq)))}"
      }.mkString("{", ", ", "}")) ++ wl.provenance
    val metricJson = metrics.map { case (k, v, u) =>
      s"""${Util.jsonString(k)}: {"value": ${Util.jsonNumber(v)}, "unit": ${Util.jsonString(u)}}"""
    }.mkString("{", ", ", "}")
    val result = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $metricJson}"""
    val provJson = prov.map { case (k, v) => s"${Util.jsonString(k)}: $v" }.mkString("{", ", ", "}")
    if (args.trace) {
      tracer.write(args.root.resolve("spans.jsonl"))
      System.err.println("perfbench: span self times (name, count, total s, self s)")
      tracer.selfTimes.foreach { case (nm, c, tot, self) =>
        System.err.println(f"  $nm%-24s $c%6d $tot%10.4f $self%10.4f")
      }
    }
    System.err.println(s"perfbench: provenance $provJson")
    val opsJson = samples.map(s => s"[${Util.jsonString(s.op.name)}, ${Util.jsonNumber(s.seconds)}]")
      .mkString("[", ", ", "]")
    Files.writeString(args.root.resolve("result.json"),
      s"""{"result": $result, "provenance": $provJson, "ops": $opsJson}""" + "\n")
    spark.stop()
    wl.cleanup()
    println(result)
    System.out.flush()
    0
  }

  def leftoverThreads(): Double = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.count { t =>
      t.isAlive && (t.getName.startsWith("xlsx-parse-") || t.getName.startsWith("xlsx-chunk-producer"))
    }.toDouble
  }
}

/** The per-layer metric names a traced run prints, in BENCHMARK.json
  * order. A layer a workload does not touch reads 0. */
object PerLayer {
  val names: Seq[(String, String)] = Seq(
    "xlsx.open_s" -> "s", "xlsx.shared_strings_s" -> "s", "xlsx.shared_strings_n" -> "count",
    "xlsx.schema_s" -> "s", "xlsx.inflate_floor_s" -> "s", "xlsx.sheet_bytes" -> "bytes",
    "xlsx.parse_t1_s" -> "s", "xlsx.parse_auto_s" -> "s", "xlsx.parse_auto_threads" -> "count",
    "xlsx.parse_cells" -> "count", "xlsx.scan_build_s" -> "s", "xlsx.scan_exec_s" -> "s",
    "xlsx.handoff_s" -> "s", "xlsx.partitions" -> "count", "xlsx.leftover_threads" -> "count",
    "xlsx.writer_cells_per_s" -> "cells/s", "xlsx.write_job_s" -> "s",
    "xlsx.write_bytes" -> "bytes", "xlsx.write_files" -> "count",
    "ods.writer_cells_per_s" -> "cells/s", "ods.parse_cells_per_s" -> "cells/s",
    "ods.write_job_s" -> "s", "ods.scan_exec_s" -> "s",
    "spark.build_s" -> "s", "spark.build_jobs" -> "count", "spark.exec_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.core_idle_ratio" -> "ratio", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes") ++
    Main.Families.flatMap(f => Seq(s"family.$f.build_s" -> "s", s"family.$f.exec_s" -> "s",
      s"family.$f.jobs" -> "count")) ++
    Seq("trace.overhead_ratio" -> "ratio", "trace.spans" -> "count")
}
