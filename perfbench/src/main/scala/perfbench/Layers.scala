package perfbench

import scala.jdk.CollectionConverters._

/** The per-layer metrics of a traced run. Traced iterations give each
  * layer's self time, bytes and counts; the untraced iterations of the same
  * run give the engine and driver counters and the plan shape, which
  * staging would distort. Every metric is a median over iterations; a layer
  * a workload does not use reads 0. */
object Layers {

  /** metric -> span name whose self time it sums */
  val selfSeconds: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "sources.scan", "sources.write_s" -> "sources.write",
    "nested.pack_s" -> "nested.pack", "nested.sort_s" -> "nested.sort",
    "nested.elements_s" -> "nested.elements",
    "dialect.plan_s" -> "dialect.plan", "dialect.exec_s" -> "dialect.exec",
    "map_rows.s" -> "map_rows", "text.quality_s" -> "text.quality",
    "dedup.sig_s" -> "dedup.sig", "dedup.lsh_s" -> "dedup.lsh",
    "dedup.verify_s" -> "dedup.verify", "dedup.cc_s" -> "dedup.cc",
    "dedup.contam_s" -> "dedup.contam", "sampling.shard_s" -> "sampling.shards")

  /** metric -> (span name, task counter it sums over the span's jobs) */
  val spanBytes: Seq[(String, (String, StageAcc => Long))] = Seq(
    "sources.write_bytes" -> ("sources.write", _.output),
    "nested.pack_shuffle_bytes" -> ("nested.pack", _.shuffleWrite))

  /** counts the workloads note on traced iterations */
  val noted: Seq[String] = Seq("sources.scan_bytes", "nested.pack_cells", "map_rows.rows",
    "text.kept_frac", "dedup.candidates", "dedup.verified", "dedup.removed")

  /** engine, driver and plan-shape metrics, from untraced iterations */
  val engineNames: Seq[String] = Seq("driver.jobs", "driver.plan_s",
    "driver.gap_s", "exec.busy_s", "exec.cpu_util", "exec.gc_s",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "exec.skew", "plan.exchanges", "plan.broadcast_joins", "plan.shuffle_joins",
    "nested.interpreted_fns")

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def metrics(iters: Seq[Iter], tracer: Tracer, c: Counters,
              cores: Int): Seq[(String, Double, String)] = {
    val (traced, plain) = iters.partition(_.traced)
    val spansByIter = tracer.spans.toSeq.groupBy(_.iter)

    val layer: Seq[Map[String, Double]] = traced.map { it =>
      val spans = spansByIter.getOrElse(it.n, Nil)
      val self = tracer.selfTimes(spans)
      def named(n: String) = spans.filter(_.name == n)
      val secs = selfSeconds.map { case (m, n) => m -> named(n).map(s => self(s.id)).sum / 1e9 }
      val bytes = spanBytes.map { case (m, (n, f)) =>
        val groups = named(n).map(_.group).toSet
        m -> c.stagesOf(c.jobsIn(j => groups(j.group))).map(f).sum.toDouble
      }
      val notes = noted.map(m => m -> it.notes.getOrElse(m, 0.0))
      val cands = it.notes.getOrElse("dedup.candidates", 0.0)
      val aside = named("aside").map(s => s.end - s.start).sum / 1e9
      (secs ++ bytes ++ notes ++ Seq(
        "dedup.verify_yield" -> (if (cands > 0) it.notes("dedup.verified") / cands else 0.0),
        "traced_iter_s" -> (it.seconds - aside))).toMap
    }

    val engine: Seq[Map[String, Double]] = plain.map { it =>
      val jobs = c.jobsIn(j => j.startMs >= it.startMs && j.startMs <= it.endMs)
      val busy = Stats.unionLength(jobs.map(j => (j.startMs, math.max(j.endMs, j.startMs)))) / 1e3
      val stages = c.stagesOf(jobs)
      val actions = c.actions.asScala.toSeq.collect {
        case (at, planS, shape) if at >= it.startMs && at <= it.endMs => (planS, shape)
      }
      val shape = actions.map(_._2).foldLeft(PlanShape.zero)(_ + _)
      val heaviest = if (stages.isEmpty) None else Some(stages.maxBy(_.taskMs.sum))
      val skew = heaviest.map { s =>
        s.taskMs.max.toDouble / math.max(1.0, Stats.median(s.taskMs.map(_.toDouble).toSeq))
      }.getOrElse(0.0)
      Map("driver.jobs" -> jobs.size.toDouble,
        "driver.plan_s" -> actions.map(_._1).sum,
        "driver.gap_s" -> math.max(0.0, it.seconds - busy),
        "exec.busy_s" -> busy,
        "exec.cpu_util" -> (if (busy > 0) stages.map(_.cpuNs).sum / 1e9 / (busy * cores) else 0.0),
        "exec.gc_s" -> stages.map(_.gcMs).sum / 1e3,
        "exec.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
        "exec.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
        "exec.spill_bytes" -> stages.map(_.spill).sum.toDouble,
        "exec.skew" -> skew,
        "plan.exchanges" -> shape.exchanges.toDouble,
        "plan.broadcast_joins" -> shape.broadcastJoins.toDouble,
        "plan.shuffle_joins" -> shape.shuffleJoins.toDouble,
        "nested.interpreted_fns" -> shape.interpreted.toDouble)
    }
    val shapes = engine.map(m => m.filter(kv => kv._1.startsWith("plan.") ||
      kv._1 == "nested.interpreted_fns")).distinct
    if (shapes.length > 1)
      println(s"[perfbench] WARNING plan shape differs between iterations: $shapes")

    def medOf(rows: Seq[Map[String, Double]], k: String) = med(rows.flatMap(_.get(k)))
    val plainP50 = med(plain.map(_.seconds))
    val tracedP50 = medOf(layer, "traced_iter_s")
    val unit: String => String = {
      case k if k.endsWith("_bytes") => "bytes"
      case k if k.endsWith("_s") || k == "map_rows.s" => "s"
      case k if k.endsWith("_frac") || k.endsWith("_yield") || k.endsWith("_util") => "frac"
      case "exec.skew" => "ratio"
      case _ => "count"
    }
    val layerNames = selfSeconds.map(_._1) ++ spanBytes.map(_._1) ++ noted :+
      "dedup.verify_yield"
    layerNames.map(k => (k, medOf(layer, k), unit(k))) ++
      engineNames.map(k => (k, medOf(engine, k), unit(k))) ++ Seq(
        ("trace.overhead_frac",
          if (plainP50 > 0) (tracedP50 - plainP50) / plainP50 else 0.0, "frac"),
        ("trace.iterations", traced.length.toDouble, "count"))
  }
}
