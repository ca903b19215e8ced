package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.nested.NestedOps

/** Parquet IO for nested columns, covering the reference's read/write surface
  * (nestedframe/io.py).
  *
  * Spark reads/writes `array<struct<...>>` natively; what needs code is:
  *  - struct-of-list compatibility: the reference WRITES nested columns as
  *    `struct<f1: list<t1>, ...>` (one list per field, shared offsets —
  *    core.py:2586-2631, ext_array.py:929-945); [[readCompat]] detects that
  *    encoding and transposes it to `array<struct>` with `arrays_zip`
  *    (zero shuffle), [[writeStructOfList]] produces it for files the
  *    reference can partially load.
  *  - partial nested-column loading `columns=["nested.a"]` (io.py:150-205):
  *    [[selectColumns]] reassembles pruned nests and enforces the
  *    full-vs-partial conflict error (io.py:182-189).
  *
  * Scale: nested-leaf projection reaches the parquet scan via Catalyst
  * SchemaPruning (verified in plans: ReadSchema lists only requested
  * leaves); no custom reader needed.
  */
object NestedParquet {

  /** Is this a struct whose every field is an array (the reference's
    * struct-of-list parquet encoding)? */
  private def isStructOfList(dt: DataType): Boolean = dt match {
    case s: StructType =>
      s.fields.nonEmpty && s.fields.forall(_.dataType.isInstanceOf[ArrayType])
    case _ => false
  }

  /** Read parquet, transposing any struct-of-list columns into nested
    * (array-of-struct) columns — the `from_pyarrow` auto-cast
    * (io.py:498-572). Columns named in `rejectNesting` keep their on-disk
    * struct-of-list shape (the reference's `reject_nesting` opt-out,
    * io.py:93-101). With `autocastList` (the reference's
    * `autocast_list=True`, io.py:120-131), a plain `array<primitive>`
    * column also becomes a single-field nest named after itself, so
    * list-typed raw data joins the nested data model without a rewrite. */
  def readCompat(spark: SparkSession, path: String,
                 rejectNesting: Seq[String] = Nil,
                 autocastList: Boolean = false,
                 validate: Boolean = false): DataFrame = {
    val raw = spark.read.parquet(path)
    raw.schema.fields.foldLeft(raw) { (df, f) =>
      f.dataType match {
        case _: StructType if isStructOfList(f.dataType) &&
            !rejectNesting.contains(f.name) =>
          val s = f.dataType.asInstanceOf[StructType]
          val zipped = arrays_zip(
            s.fieldNames.toSeq.map(n => col(s"${f.name}.$n").as(n)): _*)
          // validate: a struct-of-list whose field lists disagree in length
          // is NOT a valid nested encoding — the reference raises on read
          // (io.py "not nestable" cast failure); without the check
          // arrays_zip silently null-pads to the longest list
          val guarded = if (!validate) zipped else {
            val sizes = s.fieldNames.toSeq
              .map(n => size(col(s"${f.name}.$n")))
            val ragged = sizes.tail.map(_ =!= sizes.head)
              .reduceOption(_ || _).getOrElse(lit(false))
            when(ragged, raise_error(concat(
              lit(s"Column '${f.name}' is not nestable: "),
              lit("field lists have mismatched lengths")))).otherwise(zipped)
          }
          df.withColumn(f.name, guarded)
        case ArrayType(et, _) if autocastList &&
            !et.isInstanceOf[StructType] && !et.isInstanceOf[ArrayType] &&
            !rejectNesting.contains(f.name) =>
          df.withColumn(f.name,
            transform(col(f.name), x => struct(x.as(f.name))))
        case _ => df
      }
    }
  }

  /** Write with nested columns transposed to struct-of-list (the reference's
    * on-disk format, enabling its leaf-level partial loading). Each field
    * list is a native field-path extraction (GetArrayStructFields), not a
    * per-element lambda. */
  def writeStructOfList(df: DataFrame, path: String,
                        mode: String = "overwrite"): Unit = {
    val out = NestedOps.nestedColumns(df).foldLeft(df) { (d, nest) =>
      val fields = NestedOps.subColumns(d, nest)
      d.withColumn(nest,
        struct(fields.map(fl => col(nest).getField(fl).as(fl)): _*))
    }
    out.write.mode(mode).parquet(path)
  }

  /** Column selection with dotted nested components, mirroring
    * `read_parquet(columns=...)` semantics: `"nested"` loads the whole nest,
    * `"nested.a"` loads a pruned nest; requesting both for the same nest is
    * an error (io.py:182-189). Apply directly after `spark.read.parquet` —
    * Catalyst pushes the leaf projection into the scan.
    *
    * Mixed-struct and reject semantics (io.py:150-205,
    * test_io.py:138-226): a dotted path may also address a PLAIN struct
    * column (the on-disk struct-of-list form, or any struct). If every
    * requested leaf of a prefix is list-typed, the leaves are zipped back
    * into a pruned nest named after the prefix; if ANY requested leaf is a
    * non-list (the reference's "reject the cast" pop), or the prefix is
    * named in `rejectNesting`, ALL that prefix's requested leaves emerge as
    * flat leaf-named columns instead — exactly the reference's fallback to
    * standard pandas/pyarrow behavior. */
  def selectColumns(df: DataFrame, columns: Seq[String],
                    rejectNesting: Seq[String] = Nil): DataFrame = {
    val nests = NestedOps.nestedColumns(df).toSet
    val plainStructs: Map[String, StructType] = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[StructType] =>
        f.name -> f.dataType.asInstanceOf[StructType]
    }.toMap

    // (original, Some(prefix) -> leaf | None -> base name)
    val parsed: Seq[(Option[String], String)] = columns.map { c =>
      val clean = c.replace("`", "")
      val idx = clean.indexOf('.')
      if (idx > 0) {
        val p = clean.substring(0, idx)
        if (nests.contains(p) || plainStructs.contains(p))
          (Some(p), clean.substring(idx + 1))
        else (None, clean)
      } else (None, clean)
    }
    val byPrefix: Map[String, Seq[String]] = parsed
      .collect { case (Some(p), f) => (p, f) }
      .groupBy(_._1).map { case (p, fs) => (p, fs.map(_._2)) }

    // A leaf extraction is list-typed for every field of a nest
    // (GetArrayStructFields returns an array) and for array-typed fields of
    // a plain struct; a scalar field of a plain struct rejects the re-nest.
    def leafIsList(p: String, leaf: String): Boolean =
      nests.contains(p) || plainStructs(p).fields
        .find(_.name == leaf).exists(_.dataType.isInstanceOf[ArrayType])
    val renest: Set[String] = byPrefix.keySet.filter { p =>
      !rejectNesting.contains(p) && byPrefix(p).forall(leafIsList(p, _))
    }

    val fullNames = parsed.collect {
      case (None, n) if nests.contains(n) || plainStructs.contains(n) => n
    }.toSet
    val conflict = fullNames.intersect(renest)
    require(conflict.isEmpty,
      s"Both full and partial load requested for nest(s): ${conflict.mkString(", ")}")
    // Pruned nests are rebuilt from FIELD-PATH extractions
    // (`col("nest.field")` = GetArrayStructFields) zipped back together:
    // Catalyst's SchemaPruning pushes those into the parquet ReadSchema,
    // whereas a `transform(nest, s -> struct(...))` lambda blocks pruning
    // entirely (verified against Spark 4.1 plans — the scan read every leaf).
    val seen = collection.mutable.LinkedHashSet[String]()
    parsed.foreach {
      case (None, base)              => seen += base
      case (Some(p), _) if renest(p) => seen += p
      case (Some(p), leaf)           => seen += s"$p.$leaf"
    }
    val outCols: Seq[Column] = seen.toSeq.map { name =>
      byPrefix.get(name) match {
        case Some(fields) if renest(name) =>
          arrays_zip(fields.distinct.map(f => col(s"$name.$f").as(f)): _*)
            .as(name)
        case _ =>
          val idx = name.indexOf('.')
          if (idx > 0 && byPrefix.contains(name.substring(0, idx)))
            col(name).as(name.substring(idx + 1)) // flat leaf-named column
          else col(name)
      }
    }
    df.select(outCols: _*)
  }

  /** Write a child table BUCKETED by the pack key: a subsequent
    * `packFlat`/`joinNested` on that key reads the buckets as a satisfying
    * hash distribution and SKIPS the collect_list shuffle entirely — the
    * "pre-bucketed tables skip it" claim of [[graft.nested.NestedOps]],
    * verified plan-level in ExtendedOpsSpec. At 100 TB this turns the one
    * heavy shuffle of the nested data model into a free scan property.
    * (Bucketed tables go through the catalog — `saveAsTable`.) */
  def writeBucketedTable(df: DataFrame, table: String, key: String,
                         buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Toy dataset generator — the reference's `generate_data`
    * (datasets/generation.py:6-57): base (id, a, b) + nested
    * (t, flux, flux_error, band), `nLayer` elements per base row,
    * deterministic via seeded per-row hashing (no driver-side RNG state,
    * so it scales to any nBase on a cluster). */
  def generateData(spark: SparkSession, nBase: Long, nLayer: Int): DataFrame = {
    val base = spark.range(nBase).toDF("id")
      .withColumn("a", pmod(xxhash64(col("id"), lit(1)), lit(1000L)) / 1000.0)
      .withColumn("b", pmod(xxhash64(col("id"), lit(2)), lit(1000L)) / 500.0)
    base.withColumn("nested",
      transform(sequence(lit(0), lit(nLayer - 1)), i => struct(
        (pmod(xxhash64(col("id"), i, lit(3)), lit(2000L)) / 100.0).as("t"),
        (pmod(xxhash64(col("id"), i, lit(4)), lit(10000L)) / 100.0).as("flux"),
        lit(1.0).as("flux_error"),
        when(pmod(xxhash64(col("id"), i, lit(5)), lit(2L)) === 0L, "r")
          .otherwise("g").as("band"))))
  }
}
