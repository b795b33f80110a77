package perfbench

import java.io.PrintWriter
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up, measure passes of one workload for the
  * requested time, check every output, write the record.
  *
  * Usage: `perfbench.Main <plan.json>`, where the plan (written by
  * `perfbench/run.py`) names the workload, its generated inputs, the
  * expected digests and where the record goes. `perfbench.Main expect
  * <plan.json>` instead writes the digests of every registry query the
  * plan names, and dumps the oracle-checked results for the DuckDB
  * cross-check.
  */
object Main {
  type Plan = Map[String, Any]

  private def corpus(v: Any): CorpusSpec = {
    val m = v.asInstanceOf[Map[String, Any]]
    CorpusSpec(m("dir").toString, m("docs").asInstanceOf[Number].intValue)
  }

  private def readStream(path: String): Seq[InDoc] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map { l =>
      val m = Json.parse(l).asInstanceOf[Map[String, Any]]
      InDoc(m("doc_id").asInstanceOf[Number].longValue,
        new Timestamp(m("ts_ms").asInstanceOf[Number].longValue), m("text").toString)
    }.toVector
    finally src.close()
  }

  private def idMap(v: Any): Map[Long, Long] =
    v.asInstanceOf[Map[String, Any]].map { case (k, x) =>
      k.toLong -> x.asInstanceOf[Number].longValue
    }

  def workload(plan: Plan): Workload = {
    val work = plan("work_dir").toString
    plan("workload") match {
      case "driver_loops" =>
        val order = plan("order").asInstanceOf[Seq[Seq[String]]]
        val expected = plan("expected").asInstanceOf[Map[String, Any]].map { case (q, d) =>
          val m = d.asInstanceOf[Map[String, Any]]
          q -> Digest(m("rows").asInstanceOf[Number].longValue,
            java.lang.Long.parseUnsignedLong(m("hash").toString, 16))
        }
        new Registry(order, plan("fixtures").toString, plan("warm_fixtures").toString, expected)
      case "reference_pipeline" =>
        new ReferencePipeline(plan("corpora").asInstanceOf[Seq[Any]].map(corpus),
          plan("warm_corpora").asInstanceOf[Seq[Any]].map(corpus), work)
      case other => sys.error(s"unknown workload $other")
    }
  }

  def newSession(cores: Int): SparkSession = {
    val s = graft.GraftSession.builder(s"local[$cores]").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("expect", planPath) => Expect(Json.readFile(planPath).asInstanceOf[Plan])
    case Seq(planPath) => run(Json.readFile(planPath).asInstanceOf[Plan])
    case _ => sys.error("usage: perfbench.Main [expect] <plan.json>")
  }

  def run(plan: Plan): Unit = {
    val cores = plan("cores").asInstanceOf[Number].intValue
    val seconds = plan("seconds").asInstanceOf[Number].doubleValue
    val traced = plan("trace") == true
    val wl = workload(plan)

    // set-up: session creation through the end of warm-up
    val s0 = System.nanoTime()
    val spark = newSession(cores)
    wl.warmup(spark)
    val setupS = (System.nanoTime() - s0) / 1e9
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)

    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val recs = mutable.ArrayBuffer[PassRec]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // whole passes only: at least the workload's minimum, and another
    // one while at least half of it fits in `seconds`; a traced run has
    // a traced pass between two untraced ones
    val minPasses = math.max(plan("min_passes").asInstanceOf[Number].intValue,
      if (traced) 3 else 1)
    def lastPass = passes.lastOption.map(_("wall_s").asInstanceOf[Double]).getOrElse(0.0)
    while (recs.size < minPasses || elapsed + lastPass / 2 <= seconds) {
      val p = recs.size
      val tracedPass = traced && p % 2 == 1
      if (tracedPass) tracer.attach()
      val before = tracer.total()
      val rec = new PassRec(p, tracer)
      val cpu0 = Proc.cpuS()
      val gc0 = Proc.gcS()
      val w0 = System.nanoTime()
      wl.runPass(spark, rec)
      val wall = (System.nanoTime() - w0) / 1e9 - rec.checkS
      val cpu = Proc.cpuS() - cpu0 - rec.checkCpuS
      val gc = Proc.gcS() - gc0
      val info = mutable.LinkedHashMap[String, Any]("pass" -> p, "traced" -> tracedPass,
        "wall_s" -> wall, "cpu_s" -> cpu, "jvm_gc_s" -> gc, "ops" -> rec.names.size,
        "failed" -> rec.failures.size, "check_s" -> rec.checkS)
      if (tracedPass) {
        org.apache.spark.PerfbenchShim.drainListeners(sc)
        info ++= Layers.ofPass(rec, tracer.total().minus(before), tracer, cores, gc)
        tracer.detach()
      }
      passes += info.toMap
      recs += rec
      Registry.release(spark)
    }

    // the layer probes time the modules of the reference pipeline; the
    // stream probe's micro-batches are checked like the workload's ops
    val probeRec = new PassRec(-1, tracer)
    val probe = (traced, wl) match {
      case (true, _: ReferencePipeline) =>
        val c = corpus(plan("probe_corpus"))
        val t = plan("probe_truth").asInstanceOf[Map[String, Any]]
        val stream = readStream(plan("probe_stream").toString)
        val work = plan("work_dir").toString
        Probes(spark, c, stream.map(_.text), work) ++
          new StreamProbe(stream, plan("batch").asInstanceOf[Number].intValue,
            idMap(t("exact")), idMap(t("near")), work)(spark, probeRec)
      case (true, _) => (Probes.layers ++ StreamProbe.layers).map(_ -> 0.0).toMap
      case _ => Map.empty[String, Double]
    }

    val lat = recs.flatMap(_.latS).toSeq
    val (tailQ, tail) = Stats.tail(lat)
    val attempted = (recs :+ probeRec).map(_.names.size).sum
    val failures = (recs :+ probeRec).flatMap(_.failures.values).toSeq
    val untraced = passes.filter(_("traced") == false)
    val metrics = Map(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(untraced.map(_("wall_s").asInstanceOf[Double]).toSeq),
      "op_p50_s" -> Stats.median(lat),
      "op_tail_s" -> tail,
      "cpu_s" -> Stats.median(untraced.map(_("cpu_s").asInstanceOf[Double]).toSeq),
      "peak_rss_mb" -> Proc.peakRssMb(),
      "failed_frac" -> failures.size.toDouble / math.max(1, attempted))
    val layers = if (traced) Layers.summarize(passes.toSeq) ++ probe else Map.empty

    if (traced) {
      val w = new PrintWriter(plan("trace_out").toString, "UTF-8")
      try tracer.spansWithSelf.foreach(s => w.println(Json.write(s))) finally w.close()
    }
    val conf = spark.conf.getAll.filter { case (k, _) => !k.startsWith("spark.app.") &&
      k != "spark.driver.host" && k != "spark.driver.port" && k != "spark.executor.id" }
    spark.stop()
    Json.writeFile(plan("out").toString, Map(
      "workload" -> wl.name, "attempted" -> attempted, "failed" -> failures.size,
      "failures" -> failures.take(20), "metrics" -> metrics, "layers" -> layers,
      "op_tail" -> Map("percentile" -> tailQ * 100, "n" -> lat.size),
      "passes" -> passes.toSeq,
      "op_latencies_s" -> recs.map(r => r.names.zip(r.latS).map { case (n, l) =>
        Map("op" -> n, "s" -> l) }.toSeq).toSeq,
      "spark_conf" -> conf, "nproc" -> cores))
  }
}

/** Per-layer figures of one traced pass, and their medians over passes. */
object Layers {
  def ofPass(rec: PassRec, c: Counters, tracer: Tracer, cores: Int,
             jvmGcS: Double): Map[String, Any] = {
    val phases = rec.names.indices.flatMap { i =>
      Seq("build", "plan", "exec", "run").map(ph => ph -> tracer.phaseDur(rec.opId(i), ph))
    }.groupMapReduce(_._1)(_._2)(_ + _)
    val constructJobs = rec.names.indices.map(i => tracer.counters(rec.opId(i), "build").jobs).sum
    val execWall = phases("exec") + phases("run")
    Map(
      "ops.construct_s" -> phases("build"),
      "ops.construct_jobs" -> constructJobs.toDouble,
      "catalyst.plan_s" -> phases("plan"),
      "sched.jobs" -> c.jobs.toDouble,
      "sched.stages" -> c.stages.toDouble,
      "sched.tasks" -> c.tasks.toDouble,
      "sched.stage_wait_s" -> c.stageWaitS,
      "exec.wall_s" -> execWall,
      "executor.run_s" -> c.runS,
      "executor.cpu_s" -> c.cpuS,
      "executor.gc_s" -> c.gcS,
      // executor time over the whole op: build-phase jobs count too
      "executor.core_util" -> c.runS / (rec.latS.sum * cores),
      "executor.cpu_ratio" -> (if (c.runS > 0) c.cpuS / c.runS else 0.0),
      "shuffle.write_bytes" -> c.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> c.shuffleRead.toDouble,
      "shuffle.fetch_wait_s" -> c.fetchWaitS,
      "spill.bytes" -> c.spill.toDouble,
      "materialize.blocks" -> c.blocks.toDouble,
      "materialize.bytes" -> c.blockBytes.toDouble,
      "sources.read_amplification" -> rec.extra.getOrElse("read_amplification", 0.0),
      "jvm.gc_s" -> jvmGcS)
  }

  /** Medians over traced passes, plus the tracing overhead: the traced
    * `pass_s` minus the untraced one.
    */
  def summarize(passes: Seq[Map[String, Any]]): Map[String, Double] = {
    val (tr, un) = passes.partition(_("traced") == true)
    val keys = tr.head.keys.filter(k => k.contains('.'))
    def wall(ps: Seq[Map[String, Any]]) = Stats.median(ps.map(_("wall_s").asInstanceOf[Double]))
    keys.map(k => k -> Stats.median(tr.map(_(k).asInstanceOf[Double]))).toMap ++
      Map("trace.overhead_s" -> (wall(tr) - wall(un)))
  }
}
