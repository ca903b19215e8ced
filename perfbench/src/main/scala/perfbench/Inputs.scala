package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

/** Input generators. Every value is a Spark `xxhash64` of (seed, key, ...),
  * so one seed gives the same tables on any machine and core count. Each
  * table is written as [[FilesPerTable]] parquet files of one row group each, so
  * scans can run in parallel on up to [[FilesPerTable]] / 2 cores. A generated
  * directory also holds `props.json`: the input properties the run prints
  * and the expected answers the output checks compare against. */
object Inputs {
  val FilesPerTable = 8

  private def u(seed: Long, mod: Long, keys: Column*): Column =
    pmod(xxhash64(lit(seed) +: keys: _*), lit(mod))

  private val json = new ObjectMapper()

  def readProps(dir: Path): Map[String, Any] =
    json.readValue(dir.resolve("props.json").toFile, classOf[java.util.Map[String, Any]])
      .asScala.toMap

  private def write(df: DataFrame, dir: Path): Unit =
    df.write.mode("overwrite").parquet(dir.toString)

  def rowGroups(spark: SparkSession, dir: Path): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val hp = new HPath(dir.toUri)
    hp.getFileSystem(conf).listStatus(hp)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try r.getRowGroups.size finally r.close()
      }.sum
  }

  /** Field paths of every leaf of a read schema, through structs and
    * arrays (an array adds no name, as in parquet's list encoding once its
    * `list`/`element` levels are dropped). */
  private def leafPaths(dt: DataType, prefix: Seq[String]): Seq[Seq[String]] = dt match {
    case s: StructType => s.fields.toSeq.flatMap(f => leafPaths(f.dataType, prefix :+ f.name))
    case a: ArrayType  => leafPaths(a.elementType, prefix)
    case _             => Seq(prefix)
  }

  /** Compressed bytes of the parquet column chunks a scan of `files` with
    * read schema `schema` has to read, from the file footers. Column
    * pruning shows here as fewer bytes. */
  def columnBytes(spark: SparkSession, files: Seq[String], schema: StructType): Long = {
    val wanted = leafPaths(schema, Nil).toSet
    val conf = spark.sparkContext.hadoopConfiguration
    files.filter(_.endsWith(".parquet")).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(f), conf))
      try r.getRowGroups.asScala.flatMap(_.getColumns.asScala)
        .filter(c => wanted(c.getPath.toArray.toSeq.filterNot(Set("list", "element"))))
        .map(_.getTotalSize).sum
      finally r.close()
    }.sum
  }

  /** Rows, cells and cell-size quantiles, from the generator's per-cell
    * size expression. */
  private def cells(spark: SparkSession, n: Int, size: Column): Map[String, Any] = {
    val sizes = spark.range(n).select(size).collect().map(_.getLong(0)).toSeq
    val d = sizes.map(_.toDouble)
    Map("rows" -> sizes.sum, "cells" -> sizes.length, "cell_min" -> sizes.min,
      "cell_p50" -> Stats.percentile(d, 50).toLong,
      "cell_p90" -> Stats.percentile(d, 90).toLong,
      "cell_p99" -> Stats.percentile(d, 99).toLong, "cell_max" -> sizes.max)
  }

  /** One flat row per element of each cell, written as [[FilesPerTable]]
    * files of whole cells ordered by (cell, time). */
  private def writeCells(df: DataFrame, dir: Path): Unit =
    write(df.repartition(FilesPerTable, col("obj_id")).sortWithinPartitions("obj_id", "mjd"), dir)

  /** Generate `workload`'s inputs into `dir` (atomically: a partial
    * directory never carries `props.json`). */
  def generate(spark: SparkSession, workload: String, seed: Long, dir: Path): Unit = {
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
    Workloads.deleteTree(tmp)
    Files.createDirectories(tmp)
    val props = workload match {
      case "ztf_chain"          => ztf(spark, seed, tmp)
      case "lightcurve_archive" => lightcurve(spark, seed, tmp)
      case "curate"             => curate(spark, seed, tmp)
    }
    val all = props ++ Map("workload" -> workload, "seed" -> seed)
    json.writerWithDefaultPrettyPrinter()
      .writeValue(tmp.resolve("props.json").toFile, all.asJava)
    Workloads.deleteTree(dir)
    Files.move(tmp, dir)
  }

  // ---------------------------------------------------------------- ztf_chain

  /** Objects with 50-500 observations each (uniform), two bands. */
  val ZtfObjects = 2000
  /** The chain's second query keeps objects with more g observations. */
  val ZtfMinG = 100

  private def ztf(spark: SparkSession, seed: Long, dir: Path): Map[String, Any] = {
    val id = col("id")
    val objects = spark.range(ZtfObjects).select(id.as("obj_id"),
      (u(seed, 360000, id, lit(1)) / 1000.0).as("ra"),
      (u(seed, 180000, id, lit(2)) / 1000.0 - 90.0).as("dec"))
    val n = lit(50L) + u(seed, 451, id, lit(3))
    val cellProps = cells(spark, ZtfObjects, n)
    val obj = col("obj_id"); val i = col("i")
    val sources = spark.range(ZtfObjects)
      .select(id.as("obj_id"), explode(sequence(lit(0L), n - 1)).as("i"))
      .select(obj,
        (lit(58000.0) + i * 0.75 + u(seed, 500, obj, i, lit(4)) / 1000.0).as("mjd"),
        (u(seed, 1000000, obj, i, lit(5)) / 1000.0).as("flux"),
        (lit(0.5) + u(seed, 1000, obj, i, lit(6)) / 1000.0).as("flux_err"),
        when(u(seed, 2, obj, i, lit(7)) === 0L, "g").otherwise("r").as("band"))
    write(objects.repartition(FilesPerTable), dir.resolve("objects"))
    writeCells(sources, dir.resolve("sources"))
    val src = spark.read.parquet(dir.resolve("sources").toString)
    val objs = spark.read.parquet(dir.resolve("objects").toString)
    // the answer by a flat formulation: one groupBy, no nests
    val expected = src.groupBy(obj).agg(
        count_if(col("band") === "g").as("n_g"),
        count_if(col("band") === "r").as("n_r"),
        (max("flux") - min("flux")).as("amplitude"))
      .join(objs.where(col("ra") > 10.0).select(obj), "obj_id")
      .where(col("n_g") > ZtfMinG)
      .collect().map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)).asJava)
    val objBytes = Files.list(dir.resolve("objects")).iterator().asScala
      .map(p => Files.size(p)).sum
    cellProps ++ Map("base_rows" -> ZtfObjects,
      "row_groups_sources" -> rowGroups(spark, dir.resolve("sources")),
      "row_groups_objects" -> rowGroups(spark, dir.resolve("objects")),
      "base_bytes" -> objBytes,
      "base_broadcast" -> (objBytes <
        org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold),
      "expected_rows" -> expected.length, "expected" -> expected.toSeq.asJava)
  }

  // ------------------------------------------------------- lightcurve_archive

  /** Ordinary light curves hold 50-500 observations (uniform); a few hot
    * cells hold thousands, so one task of the pack and the sort carries far
    * more work. */
  val LcObjects = 800
  val LcHotSizes: Seq[Int] = Seq(12000, 9000, 7000, 5000, 4000, 3000)
  val Mod: Long = 1L << 31

  /** Order-insensitive checksum of the flat read-back rows. */
  val lcContentSum: Column =
    sum(pmod(xxhash64(col("obj_id"), col("mjd"), col("band"), col("snr")), lit(Mod)))
  /** Checksum of (cell, position in cell, element). */
  def lcOrderSum(pos: Column, mjd: Column, band: Column): Column =
    sum(pmod(xxhash64(col("obj_id"), pos, mjd, band), lit(Mod)))

  private def lightcurve(spark: SparkSession, seed: Long, dir: Path): Map[String, Any] = {
    import org.apache.spark.sql.expressions.Window
    val id = col("id")
    // hot cells sit at fixed ids, so every seed gives the same task skew
    val hot = LcHotSizes.indices.map(_.toLong * (LcObjects / LcHotSizes.length))
    val n = hot.zip(LcHotSizes).foldLeft(lit(50L) + u(seed, 451, id, lit(3))) {
      case (acc, (h, size)) => when(id === h, lit(size.toLong)).otherwise(acc)
    }
    val cellProps = cells(spark, LcObjects, n)
    val obj = col("obj_id"); val i = col("i")
    val sources = spark.range(LcObjects)
      .select(id.as("obj_id"), explode(sequence(lit(0L), n - 1)).as("i"))
      .select(obj,
        (lit(58000.0) + i * 0.5 + u(seed, 400, obj, i, lit(4)) / 1000.0).as("mjd"),
        element_at(array(lit("g"), lit("r"), lit("i")),
          (u(seed, 3, obj, i, lit(7)) + 1).cast("int")).as("band"),
        (u(seed, 1000000, obj, i, lit(5)) / 1000.0).as("flux"),
        (lit(0.5) + u(seed, 1000, obj, i, lit(6)) / 1000.0).as("flux_err"))
    writeCells(sources, dir.resolve("sources"))
    val src = spark.read.parquet(dir.resolve("sources").toString)
    // expected answers by flat formulations: a row checksum, and element
    // order from a window over the flat rows
    val content = src.withColumn("snr", col("flux") / col("flux_err"))
      .agg(lcContentSum).head()
    val w = Window.partitionBy(obj).orderBy(col("band").asc, col("mjd").desc)
    val order = src.withColumn("pos", row_number().over(w) - 1)
      .agg(lcOrderSum(col("pos"), col("mjd"), col("band"))).head()
    cellProps ++ Map("expected_sum" -> content.getLong(0),
      "expected_order_sum" -> order.getLong(0),
      "row_groups_sources" -> rowGroups(spark, dir.resolve("sources")),
      "hot_cells" -> LcHotSizes.length)
  }

  // ------------------------------------------------------------------- curate

  /** Document id ranges: normal documents first, then low-quality ones,
    * planted near-duplicate copies of normal documents, and documents that
    * quote an evaluation document. Only the normal documents should come
    * out of the pipeline. */
  val CurNormal = 10000
  val CurLowQuality = 600
  val CurCopies = 1500
  val CurContaminated = 400
  val CurEval = 200
  private val Vocab = 4000
  private val EvalKey = 1000000000L
  private val Stopwords = Seq("the", "a", "of", "and", "is", "to")

  private def curate(spark: SparkSession, seed: Long, dir: Path): Map[String, Any] = {
    val words = spark.range(Vocab).selectExpr(
      s"""array_join(transform(sequence(1, 3 + cast(pmod(xxhash64($seed, id, 0), 7) as int)),
         |  j -> chr(97 + cast(pmod(xxhash64($seed, id, j), 26) as int))), '') AS w""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    val stop = Stopwords
    def len(src: String) = s"(100 + cast(pmod(xxhash64($seed, $src, 9), 101) as int))"
    // a quarter stopwords, the rest drawn from the vocabulary
    def text(src: String, n: String) =
      s"""array_join(transform(sequence(0, $n - 1), i ->
         |  if(pmod(xxhash64($seed, $src, i, 1), 100) < 25,
         |     element_at(stop, cast(pmod(xxhash64($seed, $src, i, 2), ${stop.length}) as int) + 1),
         |     element_at(vocab, cast(pmod(xxhash64($seed, $src, i, 3), $Vocab) as int) + 1))), ' ')"""
        .stripMargin
    def word(src: String, k: Int) =
      s"element_at(vocab, cast(pmod(xxhash64($seed, $src, $k), $Vocab) as int) + 1)"
    def range(from: Long, n: Int) = spark.range(from, from + n)
      .withColumn("vocab", typedLit(words)).withColumn("stop", typedLit(stop))

    val lowStart = CurNormal.toLong
    val copyStart = lowStart + CurLowQuality
    val contamStart = copyStart + CurCopies
    val normal = range(0, CurNormal).selectExpr("id AS doc_id", s"${text("id", len("id"))} AS text")
    // half one word repeated, half too short for the gate
    val lowQuality = range(lowStart, CurLowQuality).selectExpr("id AS doc_id",
      s"""if(id % 2 = 0, array_join(array_repeat(${word("id", 10)}, 60), ' '),
         |   ${text("id", "12")}) AS text""".stripMargin)
    // a copy of a normal document, half exact, half with one word appended
    val copies = range(copyStart, CurCopies)
      .withColumn("orig", expr(s"pmod(xxhash64($seed, id, 11), $CurNormal)"))
      .selectExpr("id AS doc_id",
        s"""concat(${text("orig", len("orig"))},
           |  if(pmod(xxhash64($seed, id, 12), 2) = 0, '', concat(' ', ${word("id", 13)}))) AS text"""
          .stripMargin)
    // a normal document followed by the first 12 words of an eval document
    val contaminated = range(contamStart, CurContaminated)
      .withColumn("e", expr(s"$EvalKey + pmod(xxhash64($seed, id, 14), $CurEval)"))
      .selectExpr("id AS doc_id",
        s"""concat(${text("id", len("id"))}, ' ',
           |  array_join(slice(split(${text("e", len("e"))}, ' '), 1, 12), ' ')) AS text"""
          .stripMargin)
    val evalDocs = range(0, CurEval).withColumn("e", col("id") + EvalKey)
      .selectExpr("id AS eval_id", s"${text("e", len("e"))} AS text")
    write(normal.unionByName(lowQuality).unionByName(copies).unionByName(contaminated)
      .repartition(FilesPerTable), dir.resolve("docs"))
    write(evalDocs.repartition(FilesPerTable), dir.resolve("eval"))
    val rows = CurNormal + CurLowQuality + CurCopies + CurContaminated
    Map("rows" -> rows.toLong, "expected_kept" -> CurNormal.toLong,
      "eval_docs" -> CurEval.toLong,
      "planted_low_quality_frac" -> CurLowQuality.toDouble / rows,
      "planted_copy_frac" -> CurCopies.toDouble / rows,
      "planted_contaminated_frac" -> CurContaminated.toDouble / rows,
      "row_groups_docs" -> rowGroups(spark, dir.resolve("docs")),
      "row_groups_eval" -> rowGroups(spark, dir.resolve("eval")))
  }
}
