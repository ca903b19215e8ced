package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (see `perfbench/run.py`, which builds the library
  * and this harness and starts this JVM).
  *
  * `--workload W --seed S --seconds T --trace 0|1 --data DIR --work DIR
  * --out DIR` measures one workload: it generates the inputs into DIR unless
  * they are there, then runs three set-ups (the first from JVM start, two
  * more on fresh sessions), four warm-up iterations, and a single-client
  * closed loop of iterations for T seconds, each iteration's output checked
  * outside its timing. The last stdout line is the JSON result. */
object Main {

  /** At most 4 cores, and one core left for the driver thread, JIT and GC,
    * which otherwise compete with every task. */
  val Cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors - 1))

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def parse(args: Seq[String]): Map[String, String] =
    args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(argv: Array[String]): Unit = {
    val status =
      try run(parse(argv.toSeq))
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.exit(status)
  }

  private def oldGenAfterGc(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum

  private def run(a: Map[String, String]): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Stats.selfCheck()
    val name = a("workload")
    val (seed, seconds, trace) = (a("seed").toLong, a("seconds").toDouble, a("trace") == "1")
    val (data, work) = (Paths.get(a("data")), Paths.get(a("work")))
    var spark = session(work)
    // inputs are generated once per (seed, generator) and reused; the
    // generation time is reported on its own and kept out of set-up 1
    val genStart = System.nanoTime()
    if (!java.nio.file.Files.exists(data.resolve("props.json")))
      Inputs.generate(spark, name, seed, data)
    val genSeconds = (System.nanoTime() - genStart) / 1e9
    val props = Inputs.readProps(data)
    println(s"[perfbench] workload=$name seed=$seed cores=$Cores trace=${if (trace) 1 else 0}")
    println("[perfbench] input " + props.toSeq.filter(_._1 != "expected").sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString(" "))

    // set-up 1: JVM start to the end of the first (untimed) iteration
    var wl = Workloads.make(name, spark, data, work, props)
    var out = wl.iteration(Untraced)
    val setups = ArrayBuffer((System.currentTimeMillis() - jvmStartMs) / 1e3 - genSeconds)
    val failures = ArrayBuffer.empty[String]
    wl.check(out).foreach(failures += "setup 1: " + _)
    // set-ups 2 and 3: a fresh session and its first iteration
    for (k <- 2 to 3) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(work)
      wl = Workloads.make(name, spark, data, work, props)
      out = wl.iteration(Untraced)
      setups += (System.nanoTime() - t0) / 1e9
      wl.check(out).foreach(failures += s"setup $k: " + _)
    }

    // four more untimed iterations, so the timed loop starts with warm JIT
    for (k <- 1 to 4) wl.check(wl.iteration(Untraced)).foreach(failures += s"warm-up $k: " + _)

    val counters = if (trace) Counters.install(spark) else null
    val tracer = new Tracer(spark)
    val iters = ArrayBuffer.empty[Iter]
    var peakOld = 0L
    var attempted, failed = 0
    val loopStart = System.nanoTime()
    while (System.nanoTime() - loopStart < seconds * 1e9) {
      attempted += 1
      val traced = trace && attempted % 2 == 0
      tracer.iter = attempted
      val st = if (traced) new Traced(spark, tracer) else Untraced
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ok =
        try {
          val result = if (traced) tracer.span("iteration")(wl.iteration(st))
                       else wl.iteration(st)
          val dur = System.nanoTime() - t0
          val endMs = System.currentTimeMillis()
          val bad = wl.check(result)
          bad.foreach(m => failures += s"iteration $attempted: $m")
          val notes = st match { case t: Traced => t.notes.toMap; case _ => Map.empty[String, Double] }
          iters += Iter(attempted, traced, dur / 1e9, startMs, endMs, notes)
          bad.isEmpty
        } catch {
          case e: Exception =>
            failures += s"iteration $attempted: $e"
            false
        } finally st match { case t: Traced => t.release(); case _ => () }
      if (!ok) failed += 1
      System.gc()
      peakOld = math.max(peakOld, oldGenAfterGc())
    }

    val plain = iters.filterNot(_.traced).map(_.seconds).toSeq
    failures.take(5).foreach(f => println(s"[perfbench] FAILED $f"))
    val correct = failures.isEmpty
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val p50 = Stats.median(plain)
        val (tp, tail, beyond) = Stats.tail(plain)
        println(f"[perfbench] iterations=${plain.length} tail=p$tp (samples beyond: $beyond) " +
          f"setups=${setups.map(s => f"$s%.3f").mkString(",")} failed_frac=${failed.toDouble / attempted} " +
          f"input_gen_s=$genSeconds%.3f")
        println("[perfbench] iteration_s " + plain.map(s => f"$s%.3f").mkString(" "))
        Seq(("rows_per_s", wl.rows / p50, "rows/s"), ("iter_p50_s", p50, "s"),
          ("iter_tail_s", tail, "s"), ("setup_s", Stats.median(setups.toSeq), "s"),
          ("peak_heap_mb", peakOld / 1048576.0, "MB"))
      } else {
        Counters.drain(spark)
        val m = Layers.metrics(iters.toSeq, tracer, counters, Cores)
        val spanFile = Paths.get(a("out")).resolve(s"spans-$name-seed$seed.json")
        tracer.writeJson(spanFile)
        println(s"[perfbench] span file: $spanFile (${tracer.spans.length} spans)")
        m ++ Seq(("input.gen_s", genSeconds, "s"), ("setup.cold_s", setups.head, "s"))
      }
    metrics.foreach { case (k, v, u) => println(f"[perfbench] $k%-28s $v%.6g $u") }
    spark.stop()
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    if (correct) 0 else 1
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** One timed iteration. */
final case class Iter(n: Int, traced: Boolean, seconds: Double,
                      startMs: Long, endMs: Long, notes: Map[String, Double])
