package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFunctions
import graft.nested.{MapRows, NestedExpr, NestedOps}
import graft.operators.{Dedup, Sampling}
import graft.sources.NestedParquet

/** How the steps of a chain run. Untraced, every step stays lazy and the
  * chain runs as Spark plans it. Traced, every step runs under its own span
  * and its output is materialised (cached, then written to a no-op sink),
  * so each span holds its own step's execution time. */
sealed trait Stager {
  def traced: Boolean
  /** A layer call whose output is a frame. */
  def stage(span: String)(df: => DataFrame): DataFrame
  /** A string-dialect call: the call itself (parse and analysis) and the
    * execution of its output get separate child spans. */
  def dialect(df: => DataFrame): DataFrame
  /** An action (collect, write). */
  def action[T](span: String)(body: => T): T
  /** A span around several steps. */
  def group[T](span: String)(body: => T): T
  /** A count of a materialised frame, traced runs only, kept out of every
    * timed span. */
  def note(name: String)(value: => Double): Unit
}

object Untraced extends Stager {
  def traced = false
  def stage(span: String)(df: => DataFrame): DataFrame = df
  def dialect(df: => DataFrame): DataFrame = df
  def action[T](span: String)(body: => T): T = body
  def group[T](span: String)(body: => T): T = body
  def note(name: String)(value: => Double): Unit = ()
}

final class Traced(spark: SparkSession, tracer: Tracer) extends Stager {
  private val cached = mutable.ArrayBuffer.empty[DataFrame]
  val notes = mutable.LinkedHashMap.empty[String, Double]

  def traced = true
  private def materialise(df: DataFrame): DataFrame = {
    val m = df.persist(StorageLevel.MEMORY_AND_DISK)
    m.write.format("noop").mode("overwrite").save()
    cached += m
    m
  }
  /** Note the parquet bytes a step's own file scans read (earlier steps'
    * outputs are cached, so only this step's scans appear in its plan). */
  private def noteScanBytes(plan: SparkPlan): Unit = {
    val scans = PlanShape.operators(plan).collect {
      case s: FileSourceScanExec =>
        Inputs.columnBytes(spark, s.relation.location.inputFiles.toSeq, s.requiredSchema)
    }
    if (scans.nonEmpty)
      notes("sources.scan_bytes") = notes.getOrElse("sources.scan_bytes", 0.0) + scans.sum
  }
  def stage(span: String)(df: => DataFrame): DataFrame = {
    var plan: SparkPlan = null
    val m = tracer.span(span) {
      val step = df
      plan = step.queryExecution.executedPlan // before the cache replaces it
      materialise(step)
    }
    noteScanBytes(plan)
    m
  }
  def dialect(df: => DataFrame): DataFrame = tracer.span("dialect.call") {
    val planned = tracer.span("dialect.plan")(df)
    tracer.span("dialect.exec")(materialise(planned))
  }
  def action[T](span: String)(body: => T): T = tracer.span(span)(body)
  def group[T](span: String)(body: => T): T = tracer.span(span)(body)
  def note(name: String)(value: => Double): Unit =
    notes(name) = tracer.span("aside")(value)

  /** Drop this iteration's cached frames, so no later iteration reads them. */
  def release(): Unit = {
    cached.foreach(_.unpersist(blocking = true))
    cached.clear()
  }
}

/** One workload: a chain of library calls over generated inputs, and the
  * check of its output against answers computed without the code under
  * test. `rows` is the fact-table input row count. */
trait Workload {
  def rows: Long
  def iteration(st: Stager): Any
  /** None when the output is right, else what is wrong. */
  def check(out: Any): Option[String]
}

object Workloads {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally all.close()
    }

  def make(name: String, spark: SparkSession, in: Path, work: Path,
           props: Map[String, Any]): Workload = name match {
    case "ztf_chain"          => new ZtfChain(spark, in, props)
    case "lightcurve_archive" => new LightcurveArchive(spark, in, work, props)
    case "curate"             => new Curate(spark, in, work, props)
  }

  def long(props: Map[String, Any], key: String): Long =
    props(key).asInstanceOf[Number].longValue
}

/** The reference's own chain: read → join_nested → query (base) →
  * count_nested by band → query (count) → map_rows amplitude. */
final class ZtfChain(spark: SparkSession, in: Path, props: Map[String, Any])
    extends Workload {
  val rows: Long = Workloads.long(props, "rows")
  private val out = StructType(Seq(StructField("obj_id", LongType),
    StructField("n_g", LongType), StructField("n_r", LongType),
    StructField("amplitude", DoubleType)))

  // (obj_id, n_g, n_r, amplitude) sorted by obj_id
  private val expected: Seq[(Long, Long, Long, Double)] =
    props("expected").asInstanceOf[java.util.List[java.util.List[Number]]].asScala.toSeq
      .map { r => (r.get(0).longValue, r.get(1).longValue, r.get(2).longValue, r.get(3).doubleValue) }
      .sortBy(_._1)

  private def rowsOf(rs: Array[Row]): Seq[(Long, Long, Long, Double)] =
    rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq.sortBy(_._1)

  def iteration(st: Stager): Any = {
    val objects = st.stage("sources.scan")(spark.read.parquet(in.resolve("objects").toString))
    val sources = st.stage("sources.scan")(spark.read.parquet(in.resolve("sources").toString))
    val joined = st.stage("nested.pack")(
      NestedOps.joinNested(objects, sources, Seq("obj_id"), "ztf_sources"))
    st.note("nested.pack_cells")(joined.count().toDouble)
    val bright = st.dialect(NestedExpr.query(joined, "ra > 10.0"))
    val counted = st.stage("nested.elements")(
      NestedOps.countNested(bright, "ztf_sources", Some("band"), Seq("g", "r")))
    val rich = st.dialect(NestedExpr.query(counted, s"n_ztf_sources_g > ${Inputs.ZtfMinG}"))
    val result = st.action("map_rows") {
      MapRows.mapRows(rich, Seq("obj_id", "n_ztf_sources_g", "n_ztf_sources_r",
          "ztf_sources.mjd", "ztf_sources.flux"), out)(ZtfChain.amplitude)
        .collect()
    }
    st.note("map_rows.rows")(result.length.toDouble)
    result
  }

  def check(result: Any): Option[String] = {
    val got = rowsOf(result.asInstanceOf[Array[Row]])
    if (got.length != expected.length)
      Some(s"${got.length} rows, expected ${expected.length}")
    else got.zip(expected).find { case (g, e) => g != e }
      .map { case (g, e) => s"row $g, expected $e" }
  }
}

object ZtfChain {
  /** The per-object kernel: the flux amplitude of the light curve. */
  val amplitude: Seq[Any] => Seq[Any] = args => {
    val flux = args(4).asInstanceOf[Seq[Double]]
    Seq(args(0), args(1).asInstanceOf[Number].longValue,
      args(2).asInstanceOf[Number].longValue, flux.max - flux.min)
  }
}

/** Pack → time-order cells (mixed directions) → mutate in the dialect →
  * write struct-of-list parquet → read back pruned → flatten. */
final class LightcurveArchive(spark: SparkSession, in: Path, work: Path,
                              props: Map[String, Any]) extends Workload {
  val rows: Long = Workloads.long(props, "rows")
  private val outPath = work.resolve("lightcurves").toString

  def iteration(st: Stager): Any = {
    val flat = st.stage("sources.scan")(spark.read.parquet(in.resolve("sources").toString))
    val packed = st.stage("nested.pack")(NestedOps.packFlat(flat, Seq("obj_id"), "lc"))
    st.note("nested.pack_cells")(packed.count().toDouble)
    val ordered = st.stage("nested.sort")(
      NestedOps.sortElements(packed, "lc", Seq("band" -> true, "mjd" -> false)))
    val mutated = st.dialect(NestedExpr.eval(ordered, "lc.snr = lc.flux / lc.flux_err"))
    st.action("sources.write")(NestedParquet.writeStructOfList(mutated, outPath))
    val back = st.stage("sources.scan")(NestedParquet.selectColumns(
      NestedParquet.readCompat(spark, outPath), Seq("obj_id", "lc.mjd", "lc.band", "lc.snr")))
    val flatBack = st.stage("nested.elements")(NestedOps.toFlat(back, "lc", Seq("obj_id")))
    st.action("sink")(flatBack.agg(count(lit(1)), Inputs.lcContentSum).head())
  }

  def check(result: Any): Option[String] = {
    val r = result.asInstanceOf[Row]
    val (n, sum) = (r.getLong(0), r.getLong(1))
    // element order, read from the written file with plain Spark
    val raw = spark.read.parquet(outPath)
    val order = raw.select(col("obj_id"), posexplode(col("lc.mjd")).as(Seq("pos", "mjd")),
        col("lc.band").as("bands"))
      .agg(Inputs.lcOrderSum(col("pos"), col("mjd"), element_at(col("bands"), col("pos") + 1)))
      .head().getLong(0)
    if (n != rows) Some(s"$n rows read back, expected $rows")
    else if (sum != Workloads.long(props, "expected_sum")) Some("read-back rows differ from the input")
    else if (order != Workloads.long(props, "expected_order_sum"))
      Some("element order differs from the flat window reference")
    else None
  }
}

/** Quality gate → near-duplicate removal → decontamination → split → shard
  * write, over a corpus with planted low-quality documents, near-duplicate
  * copies and documents that quote the evaluation set. */
final class Curate(spark: SparkSession, in: Path, work: Path,
                   props: Map[String, Any]) extends Workload {
  val rows: Long = Workloads.long(props, "rows")
  private val outPath = work.resolve("shards").toString
  private val expectedKept = Workloads.long(props, "expected_kept")
  // Dedup.dedupNear's parameters, spelled out so the traced decomposition
  // runs the same stages with the same settings
  private val (threshold, numHashes, rowsPerBand, shingle) = (0.8, 16, 4, 5)

  def iteration(st: Stager): Any = {
    val docs = st.stage("sources.scan")(spark.read.parquet(in.resolve("docs").toString))
    val evalSet = st.stage("sources.scan")(spark.read.parquet(in.resolve("eval").toString))
    val gated = st.stage("text.quality")(docs.where(
      TextFunctions.qualityScore(col("text")) > 0.5 &&
        TextFunctions.tokenCount(col("text")) >= 30))
    st.note("text.kept_frac")(gated.count().toDouble / rows)
    val deduped =
      if (!st.traced)
        Dedup.dedupNear(gated, "doc_id", "text", threshold, numHashes,
          rowsPerBand, shingle).localCheckpoint()
      else st.group("dedup.near")(dedupStaged(st, gated))
    val dirty = st.stage("dedup.contam")(
      Dedup.contamination(deduped, "doc_id", "text", evalSet, "text", n = 8)
        .select("doc_id"))
    st.action("sampling.shards") {
      val clean = deduped.join(dirty, Seq("doc_id"), "left_anti")
        .withColumn("split", Sampling.splitColumn(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      Sampling.writeShards(clean, outPath, Inputs.FilesPerTable, "doc_id")
    }
  }

  /** dedupNear as its public stages: signatures, LSH candidates, the exact
    * n-gram Jaccard verify (as dedupNear runs it), connected components, and
    * dropping every member but the component's minimum id. */
  private def dedupStaged(st: Stager, gated: DataFrame): DataFrame = {
    val sigs = st.stage("dedup.sig")(gated.select(col("doc_id"),
      Dedup.minHashSignaturesNative(col("text"), numHashes, shingle).as("sig")))
    val candidates = st.stage("dedup.lsh")(
      Dedup.lshCandidatePairs(sigs, "doc_id", "sig", numHashes, rowsPerBand))
    st.note("dedup.candidates")(candidates.count().toDouble)
    val texts = gated.select(col("doc_id"), col("text"))
    val verified = st.stage("dedup.verify")(
      candidates.repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
        .join(texts.select(col("doc_id").as("a"), col("text").as("ta")), "a")
        .join(texts.select(col("doc_id").as("b"), col("text").as("tb")), "b")
        .where(graft.expressions.native.ngram_jaccard(col("ta"), col("tb"), shingle) >= threshold)
        .select(col("a"), col("b")))
    st.note("dedup.verified")(verified.count().toDouble)
    val components = st.stage("dedup.cc")(Dedup.connectedComponents(verified))
    val kept = st.stage("dedup.apply")(gated.join(
      components.where(col("v") =!= col("component")).select(col("v").as("doc_id")),
      Seq("doc_id"), "left_anti"))
    st.note("dedup.removed")((gated.count() - kept.count()).toDouble)
    kept
  }

  def check(result: Any): Option[String] = {
    val r = spark.read.parquet(outPath)
      .agg(count(lit(1)), countDistinct(col("doc_id")), min("doc_id"), max("doc_id"))
      .head()
    val (n, distinct, lo, hi) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    // normal documents hold exactly the ids 0 until expectedKept, planted
    // ones the ids above: kept must be that whole range and nothing else
    if (n != expectedKept || distinct != n || lo != 0 || hi != expectedKept - 1)
      Some(s"kept $n rows ($distinct distinct ids in [$lo, $hi]), expected ids 0 until $expectedKept")
    else None
  }
}
