package graft

import graft.nested.{NestedOps, MapRows, syntax}
import graft.sources.NestedParquet
import graft.streaming.StreamingOps
import syntax._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

class ExtendedOpsSpec extends SparkSpec {
  import spark.implicits._

  lazy val base = Seq((0L, 1, 4), (1L, 2, 5), (2L, 3, 6)).toDF("key", "a", "b")
  lazy val child = Seq(
    (0L, 0, 5), (0L, 2, 4), (0L, 4, 7),
    (1L, 1, 5), (1L, 4, 3), (1L, 3, 1),
    (2L, 1, 9), (2L, 4, 3), (2L, 1, 4)).toDF("key", "c", "d")
  lazy val nf = base.joinNested(child, Seq("key"), "nested",
    sortBy = Seq(("c", true), ("d", true)))

  test("mapRows: base scalar + nested seq args") {
    val out = MapRows.mapRows(nf, Seq("a", "nested.c"),
      StructType(Seq(StructField("a2", IntegerType),
        StructField("sum_c", IntegerType)))) { case Seq(a, cs) =>
      val s = cs.asInstanceOf[Seq[Int]].sum
      Seq(a.asInstanceOf[Int] * 2, s)
    }
    val r = out.orderBy("a2").collect()
    assert(r.map(_.getInt(0)).toSeq == Seq(2, 4, 6))
    assert(r.map(_.getInt(1)).toSeq == Seq(6, 8, 6))
  }

  test("mapRowsAppend joins results back on key") {
    val out = MapRows.mapRowsAppend(nf, "key", Seq("nested.d"),
      StructType(Seq(StructField("max_d", IntegerType)))) { case Seq(ds) =>
      Seq(ds.asInstanceOf[Seq[Int]].max)
    }
    assert(out.columns.toSeq == Seq("key", "a", "b", "nested", "max_d"))
    val r = out.orderBy("key").select("max_d").as[Int].collect()
    assert(r.toSeq == Seq(7, 5, 9))
  }

  test("mapRows infer_nesting packs dotted outputs into a new nest") {
    val out = MapRows.mapRows(nf, Seq("key", "nested.c"),
      StructType(Seq(
        StructField("key", LongType),
        StructField("norm.c2", ArrayType(IntegerType)),
        StructField("norm.r", ArrayType(IntegerType)))),
      inferNesting = true) { case Seq(k, cs) =>
      val c = cs.asInstanceOf[Seq[Int]]
      Seq(k, c.map(_ * 2), c.map(_ - c.min))
    }
    assert(out.columns.toSeq == Seq("key", "norm"))
    assert(NestedOps.subColumns(out, "norm") == Seq("c2", "r"))
    val r = out.orderBy("key")
      .select(explode($"norm").as("e")).select($"e.c2", $"e.r")
      .as[(Int, Int)].collect().toSeq
    assert(r == Seq((0, 0), (4, 2), (8, 4),    // key 0: c = 0,2,4
                    (2, 0), (6, 2), (8, 3),    // key 1: c = 1,3,4
                    (2, 0), (2, 0), (8, 3)))   // key 2: c = 1,1,4
  }

  test("mapRowsAppend appends dotted outputs into the EXISTING nest") {
    val out = MapRows.mapRowsAppend(nf, "key", Seq("nested.c"),
      StructType(Seq(
        StructField("nested.c2", ArrayType(IntegerType)),
        StructField("total", IntegerType)))) { case Seq(cs) =>
      val c = cs.asInstanceOf[Seq[Int]]
      Seq(c.map(_ * 10), c.sum)
    }
    assert(out.columns.toSeq == Seq("key", "a", "b", "nested", "total"))
    assert(NestedOps.subColumns(out, "nested") == Seq("c", "d", "c2"))
    val r = out.orderBy("key")
      .select(explode($"nested").as("e")).select($"e.c", $"e.c2")
      .as[(Int, Int)].collect().toSeq
    assert(r.forall { case (c, c2) => c2 == c * 10 })
    val totals = out.orderBy("key").select("total").as[Int].collect().toSeq
    assert(totals == Seq(6, 8, 6))
  }

  test("mapRowsAppend + inferNesting creates a NEW nest alongside") {
    val out = MapRows.mapRowsAppend(nf, "key", Seq("nested.d"),
      StructType(Seq(StructField("extra.dd", ArrayType(IntegerType)))),
      inferNesting = true) { case Seq(ds) =>
      Seq(ds.asInstanceOf[Seq[Int]].map(_ + 1))
    }
    assert(out.nestedColumns.toSet == Set("nested", "extra"))
    val sums = out.orderBy("key")
      .select(aggregate($"extra.dd", lit(0), (acc, x) => acc + x))
      .as[Int].collect().toSeq
    assert(sums == Seq(5 + 4 + 7 + 3, 5 + 3 + 1 + 3, 9 + 3 + 4 + 3))
  }

  test("filter on a non-selected column pushes to the scan (ref issue-492)") {
    // reference GH#492: read_parquet(columns=["a"], filters=[("z","<",...)])
    // — the filter column is not in the projection. In Spark this is
    // where-then-select; the evidence that it stays cheap at 100 TB is
    // (a) the predicate lands in PushedFilters and (b) ReadSchema does
    // not balloon beyond the filter+projection columns.
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val q = li.where($"l_quantity" < 25.0).select("l_orderkey")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("IsNotNull(l_quantity)"),
      s"null-guard not pushed:\n$scan")
    assert(scan.contains("LessThan(l_quantity,25.0)"),
      s"range filter not pushed:\n$scan")
    val readSchema = scan.split("ReadSchema:").last
    assert(readSchema.contains("l_orderkey") &&
      readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_comment"),
      s"scan reads unneeded columns:\n$readSchema")
    assert(q.count() > 0)
  }

  test("bucketed child table packs WITHOUT a shuffle") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    NestedParquet.writeBucketedTable(li, "li_bucketed", "l_orderkey", 4)
    try {
      val bucketed = spark.table("li_bucketed")
      val packed = NestedOps.packFlat(bucketed, Seq("l_orderkey"), "items")
      val plan = packed.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed pack should not shuffle:\n$plan")
      // and the result is still correct
      val n = packed.select(sum(size($"items"))).as[Long].collect()(0)
      assert(n == li.count())
      // control: the same pack over the unbucketed frame DOES shuffle
      val unbucketed = NestedOps.packFlat(li, Seq("l_orderkey"), "items")
      assert(unbucketed.queryExecution.executedPlan.toString
        .contains("Exchange"))
    } finally spark.sql("DROP TABLE IF EXISTS li_bucketed")
  }

  test("struct-of-list parquet round-trip (reference on-disk format)") {
    val dir = Files.createTempDirectory("sol").toString + "/t.parquet"
    NestedParquet.writeStructOfList(nf, dir)
    // the file really is struct-of-list:
    val raw = spark.read.parquet(dir)
    assert(raw.schema("nested").dataType.isInstanceOf[StructType])
    // and readCompat transposes it back to array<struct>:
    val back = NestedParquet.readCompat(spark, dir)
    assert(NestedOps.isNestedType(back.schema("nested").dataType))
    val total = back.select(sum(size($"nested"))).as[Long].collect()(0)
    assert(total == 9)
    val c0 = back.orderBy("key").select(expr("nested[0].c")).as[Int].collect()
    assert(c0.toSeq == Seq(0, 1, 1))
  }

  test("writeStructOfList: native field lists write the same parquet " +
      "schema (every nullability flag) as per-element transforms; NULL " +
      "cell, empty cell and NULL element round-trip") {
    import org.apache.spark.sql.Row
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    // one nest that may hold NULL elements with a required field, one whose
    // array and elements are both required
    val e1 = StructType(Seq(StructField("a", IntegerType, nullable = false),
      StructField("b", StringType)))
    val e2 = StructType(Seq(StructField("x", DoubleType),
      StructField("y", LongType, nullable = false)))
    val schema = StructType(Seq(StructField("key", LongType, nullable = false),
      StructField("n1", ArrayType(e1, containsNull = true)),
      StructField("n2", ArrayType(e2, containsNull = false), nullable = false)))
    val rows = Seq(
      Row(0L, Seq(Row(1, "x"), null, Row(2, null)), Seq(Row(0.5, 1L))),
      Row(1L, null, Seq(Row(null, 2L), Row(1.5, 3L))),
      Row(2L, Seq(), Seq()))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val tmp = Files.createTempDirectory("sol-schema").toString
    val (native, lambda) = (s"$tmp/native.parquet", s"$tmp/lambda.parquet")
    NestedParquet.writeStructOfList(df, native)
    // the per-element transform formulation the writer used before
    Seq("n1", "n2").foldLeft(df) { (d, nest) =>
      d.withColumn(nest, struct(NestedOps.subColumns(d, nest).map(fl =>
        transform(col(nest), s => s.getField(fl)).as(fl)): _*))
    }.write.mode("overwrite").parquet(lambda)
    def footer(dir: String) = {
      val conf = spark.sparkContext.hadoopConfiguration
      val part = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
        .globStatus(new org.apache.hadoop.fs.Path(s"$dir/part-*.parquet"))
        .head.getPath
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(part, conf))
      try {
        val meta = r.getFooter.getFileMetaData
        (meta.getSchema.toString,
          meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      } finally r.close()
    }
    val (nativeSchema, nativeSpark) = footer(native)
    val (lambdaSchema, lambdaSpark) = footer(lambda)
    assert(nativeSchema == lambdaSchema)
    assert(nativeSpark == lambdaSpark)
    // a required field of required elements stays a required leaf (n2.y);
    // one of nullable elements (n1.a) cannot
    assert(nativeSchema.contains("required int64 element"), nativeSchema)
    assert(!nativeSchema.contains("required int32 element"), nativeSchema)
    def back(dir: String) = NestedParquet.readCompat(spark, dir)
      .orderBy("key").collect().toSeq
    val got = back(native)
    assert(got == back(lambda))
    // NULL cell stays NULL, empty stays empty, a NULL element keeps its
    // slot as an element of NULL fields
    assert(got(1).isNullAt(1))
    assert(got(2).getSeq[Row](1).isEmpty && got(2).getSeq[Row](2).isEmpty)
    assert(got(0).getSeq[Row](1) ==
      Seq(Row(1, "x"), Row(null, null), Row(2, null)))
  }

  test("awaitBoth keeps both failures: the second is attached as " +
      "suppressed") {
    val e = intercept[IllegalStateException] {
      SurfaceQueries.awaitBoth[Int, Int](
        throw new IllegalStateException("first"),
        throw new IllegalArgumentException("second"))
    }
    assert(e.getMessage == "first")
    assert(e.getSuppressed.toSeq.map(_.getMessage) == Seq("second"))
    val one = intercept[IllegalArgumentException] {
      SurfaceQueries.awaitBoth[Int, Int](1,
        throw new IllegalArgumentException("only"))
    }
    assert(one.getMessage == "only" && one.getSuppressed.isEmpty)
    assert(SurfaceQueries.awaitBoth(1, "b") == ((1, "b")))
  }

  test("selectColumns partial nested load + conflict error") {
    val pruned = NestedParquet.selectColumns(nf, Seq("key", "nested.c"))
    assert(pruned.columns.toSeq == Seq("key", "nested"))
    assert(pruned.subColumns("nested") == Seq("c"))
    intercept[IllegalArgumentException] {
      NestedParquet.selectColumns(nf, Seq("nested", "nested.c"))
    }
  }

  test("explodeAligned zips aligned list columns") {
    val df = Seq((1L, Seq(1, 2, 3), Seq("x", "y", "z")))
      .toDF("k", "v", "w")
    val r = NestedOps.explodeAligned(df, Seq("v", "w"))
    assert(r.count() == 3)
    assert(r.columns.toSet == Set("k", "v", "w"))
    val rows = r.orderBy("v").as[(Long, Int, String)].collect()
    assert(rows(2) == ((1L, 3, "z")))
  }

  test("withElementIndex adds per-cell ordinals") {
    val r = NestedOps.withElementIndex(nf, "nested")
    val idx = r.orderBy("key")
      .select(expr("transform(nested, s -> s.idx)")).as[Seq[Long]].collect()
    assert(idx.forall(_ == Seq(0L, 1L, 2L)))
  }

  test("describeAll covers base and nested numeric columns") {
    val d = NestedOps.describeAll(nf.drop("key"))
    val cols = d.select("column").distinct().as[String].collect().toSet
    assert(cols == Set("a", "b", "nested.c", "nested.d"))
    val meanC = d.where($"column" === "nested.c" && $"stat" === "mean")
      .select("value").as[Double].collect()(0)
    assert(math.abs(meanC - 20.0 / 9) < 1e-12)
    assert(d.count() == 4 * 8)
  }

  test("describeAll approx=true: sketch percentiles track exact within " +
      "the documented rank bound; all other stats identical") {
    val df = spark.range(0, 10001).toDF("k")
      .select(col("k"), (col("k") * 2).cast("double").as("v"))
    val exact = NestedOps.describeAll(df)
    val approx = NestedOps.describeAll(df, approx = true)
    def stat(d: org.apache.spark.sql.DataFrame, c: String, s: String) =
      d.where($"column" === c && $"stat" === s)
        .select("value").as[Double].head()
    // count/mean/std/min/max are exact in both modes
    for (s <- Seq("count", "mean", "std", "min", "max"))
      assert(stat(exact, "v", s) == stat(approx, "v", s))
    // percentile_approx at accuracy=10000 over 10001 distinct values:
    // rank error <= n/accuracy ~ 1 rank => value within one step (2.0)
    for (s <- Seq("25%", "50%", "75%")) {
      val e = stat(exact, "v", s); val a = stat(approx, "v", s)
      assert(math.abs(e - a) <= 2.0 + 1e-9, s"$s: exact=$e approx=$a")
      // sketch values are members of the column, not interpolations
      assert(a % 2.0 == 0.0)
    }
    // shape contract unchanged: same (column, stat) grid
    assert(exact.select("column", "stat").collect().toSet ==
      approx.select("column", "stat").collect().toSet)
  }

  test("describeAll exactRowLimit guard: an over-limit layer auto-routes " +
      "percentiles to the sketch; under-limit layers stay exact") {
    val df = spark.range(0, 1000).toDF("k")
      .select((col("k") * 2 + 1).cast("double").as("v"))
    // over the limit: percentiles come from percentile_approx (members of
    // the column — odd values), identical to an explicit approx=true run
    val guarded = NestedOps.describeAll(df, exactRowLimit = 10L)
    val explicitApprox = NestedOps.describeAll(df, approx = true)
    def stats(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("column", "stat").collect().toSeq
    assert(stats(guarded) == stats(explicitApprox))
    // under the limit (default 2M): exact pandas interpolation — the 25%
    // percentile of 1000 evenly spaced odd values interpolates to a
    // non-member value, proving the exact path ran
    val exact = NestedOps.describeAll(df)
    val p25 = exact.where($"column" === "v" && $"stat" === "25%")
      .select("value").as[Double].head()
    assert(p25 == 500.5, s"expected interpolated exact percentile, got $p25")
    // Long.MaxValue disables the guard entirely (forced exact)
    val forced = NestedOps.describeAll(df, exactRowLimit = Long.MaxValue)
    assert(stats(forced) == stats(exact))
  }

  test("describeAll include/exclude dtype filters; empty selection raises") {
    val df = Seq((1L, 2.0, "x"), (2L, 4.0, "y")).toDF("k", "v", "s")
    val onlyDouble = NestedOps.describeAll(df, include = Some(Seq("double")))
      .select("column").distinct().as[String].collect().toSet
    assert(onlyDouble == Set("v"))
    val noDouble = NestedOps.describeAll(df, exclude = Seq("double"))
      .select("column").distinct().as[String].collect().toSet
    assert(noDouble == Set("k"))
    val number = NestedOps.describeAll(df, include = Some(Seq("number")))
      .select("column").distinct().as[String].collect().toSet
    assert(number == Set("k", "v"))
    intercept[IllegalArgumentException] {
      NestedOps.describeAll(df, include = Some(Seq("string")))
    }
  }

  test("sortValues na_position=last on a nested target puts null fields last") {
    val df = Seq((1L, Seq((Some(3.0), "a"), (None: Option[Double], "b"),
        (Some(1.0), "c")))).toDF("k", "nested")
      .withColumn("nested", expr(
        "transform(nested, e -> named_struct('v', e._1, 'tag', e._2))"))
    def tags(out: org.apache.spark.sql.DataFrame) =
      out.select(expr("transform(nested, e -> e.tag)")).as[Seq[String]]
        .collect()(0)
    // engine default: nulls FIRST on ascending
    assert(tags(NestedOps.sortValues(df, Seq(("nested.v", true))))
      == Seq("b", "c", "a"))
    // pandas default placement: nulls LAST
    assert(tags(NestedOps.sortValues(df, Seq(("nested.v", true)),
      naPosition = Some("last"))) == Seq("c", "a", "b"))
  }

  test("setFlatColumnFrom aligns external flat values; missing rows → NULL") {
    val packed = Seq(
      (1L, Seq(10.0, 20.0, 30.0)),
      (2L, Seq(40.0))).toDF("k", "nested")
      .withColumn("nested", expr(
        "transform(nested, v -> named_struct('q', v))"))
    // flat frame covers key 1 only, and only elements 0 and 2
    val flat = Seq((1L, 0, 100.0), (1L, 2, 300.0)).toDF("k", "idx", "value")
    val out = NestedOps.setFlatColumnFrom(packed, "nested", "f", flat,
      Seq("k"))
    val got = out.orderBy("k")
      .select(expr("transform(nested, e -> e.f)")).as[Seq[Option[Double]]]
      .collect().toSeq
    assert(got == Seq(Seq(Some(100.0), None, Some(300.0)), Seq(None)))
    // positional, not value-based: element 1 got NULL, not 300.0 shifted up

    // replacing an EXISTING field may change its dtype — the reference's
    // test_set_flat_column swaps doubles for strings (test_accessor.py:377)
    val strFlat = Seq((1L, 0, "a"), (1L, 1, "b"), (1L, 2, "c"),
      (2L, 0, "d")).toDF("k", "idx", "value")
    val swapped = NestedOps.setFlatColumnFrom(packed, "nested", "q",
      strFlat, Seq("k"))
    assert(swapped.schema("nested").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]("q").dataType == StringType)
    assert(swapped.orderBy("k")
      .select(expr("transform(nested, e -> e.q)")).as[Seq[String]]
      .collect().toSeq == Seq(Seq("a", "b", "c"), Seq("d")))
  }

  test("generateData is deterministic and nested-shaped") {
    val d1 = NestedParquet.generateData(spark, 10, 5)
    assert(d1.count() == 10)
    assert(NestedOps.subColumns(d1, "nested") ==
      Seq("t", "flux", "flux_error", "band"))
    val s = d1.select(sum(size($"nested"))).as[Long].collect()(0)
    assert(s == 50)
    val a1 = d1.orderBy("id").select("a").as[Double].collect()
    val a2 = NestedParquet.generateData(spark, 10, 5)
      .orderBy("id").select("a").as[Double].collect()
    assert(a1.toSeq == a2.toSeq)
  }

  test("streaming pack: windowed collect_list under watermark") {
    implicit val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
    val t0 = 1700000000000L
    ms.addData(
      (1L, new java.sql.Timestamp(t0), 1.0),
      (1L, new java.sql.Timestamp(t0 + 60000), 2.0),
      (2L, new java.sql.Timestamp(t0 + 1000), 5.0))
    val df = ms.toDF().toDF("user_id", "ts", "value")
    val packed = StreamingOps.packStream(df, "user_id", "ts",
      Seq("value"), "events", "10 minutes", "10 minutes")
    val q = packed.writeStream.outputMode("complete")
      .format("memory").queryName("packout").start()
    try {
      q.processAllAvailable()
      val out = spark.sql("SELECT user_id, size(events) AS n FROM packout")
        .as[(Long, Int)].collect().toMap
      assert(out == Map(1L -> 2, 2L -> 1))
    } finally q.stop()
  }

  test("streaming pack LATE-DATA contract: append mode emits each window " +
      "once on watermark close; out-of-order rows inside the watermark " +
      "are included, rows beyond it are DROPPED (never update)") {
    implicit val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
    def ts(offMin: Long) =
      new java.sql.Timestamp(1700000000000L + offMin * 60000L)
    val df = ms.toDF().toDF("user_id", "ts", "value")
    val packed = StreamingOps.packStream(df, "user_id", "ts",
      Seq("value"), "events", "10 minutes", "10 minutes")
    // APPEND mode = the production contract: a window row is emitted
    // exactly once, when the watermark passes its end; no retractions.
    val q = packed.writeStream.outputMode("append")
      .format("memory").queryName("lateout").start()
    try {
      def batch(rows: (Long, java.sql.Timestamp, Double)*): Unit = {
        ms.addData(rows); q.processAllAvailable()
      }
      // b1: two on-time rows in window W1 = [t0, t0+10m)
      batch((1L, ts(1), 1.0), (1L, ts(2), 2.0))
      // b2: an OUT-OF-ORDER row for W1 — late vs the rows already seen,
      // but the watermark (max event − 10m = t0−8m) has not passed W1,
      // so it must be admitted. A second row advances event time to
      // t0+25m → watermark becomes t0+15m > W1.end at batch close.
      batch((1L, ts(3), 3.0), (2L, ts(25), 9.0))
      // b3: watermark now past W1 — this row is TOO LATE and must be
      // dropped silently; the same batch emits the closed W1.
      batch((1L, ts(1), 99.0))
      // b4: advance further so any wrongly-admitted late row would have
      // surfaced as a second W1 emission by now
      batch((2L, ts(45), 8.0))
      val w1 = spark.sql(
        """SELECT size(events) AS n,
          |  aggregate(transform(events, e -> e.value),
          |            cast(0.0 as double), (a, v) -> a + v) AS sv
          |FROM lateout WHERE user_id = 1""".stripMargin)
        .as[(Int, Double)].collect().toSeq
      // exactly ONE emission of W1, carrying the two on-time rows plus
      // the in-watermark out-of-order row — and NOT the 99.0 late row
      assert(w1 == Seq((3, 6.0)), s"W1 emissions: $w1")
    } finally q.stop()
  }

  test("streaming pack UPDATE-mode contract: each batch re-emits the " +
      "grown cell for windows it touched; the final update equals the " +
      "append-mode cell; beyond-watermark rows still dropped") {
    implicit val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
    def ts(offMin: Long) =
      new java.sql.Timestamp(1700000000000L + offMin * 60000L)
    val df = ms.toDF().toDF("user_id", "ts", "value")
    val packed = StreamingOps.packStream(df, "user_id", "ts",
      Seq("value"), "events", "10 minutes", "10 minutes")
    val q = packed.writeStream.outputMode("update")
      .format("memory").queryName("updout").start()
    try {
      def batch(rows: (Long, java.sql.Timestamp, Double)*): Unit = {
        ms.addData(rows); q.processAllAvailable()
      }
      batch((1L, ts(1), 1.0))               // W1 partial: [1.0]
      batch((1L, ts(2), 2.0))               // W1 grown:   [1.0, 2.0]
      batch((2L, ts(25), 9.0))              // watermark past W1.end
      batch((1L, ts(1), 99.0))              // beyond watermark: dropped
      batch((2L, ts(45), 8.0))
      // memory sink in update mode accumulates each batch's updated
      // rows, so the table holds W1's EMISSION HISTORY
      val w1 = spark.sql(
        """SELECT size(events) AS n,
          |  aggregate(transform(events, e -> e.value),
          |            cast(0.0 as double), (a, v) -> a + v) AS sv
          |FROM updout WHERE user_id = 1 ORDER BY n""".stripMargin)
        .as[(Int, Double)].collect().toSeq
      assert(w1 == Seq((1, 1.0), (2, 3.0)), s"W1 emission history: $w1")
      // the last update (2 rows, sum 3.0) is exactly the append-mode
      // final cell from the late-data spec above; the 99.0 row never
      // surfaced in any emission
    } finally q.stop()
  }

  test("streaming sessionize emits closed sessions") {
    implicit val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[StreamingOps.SessionIn](spark)
    val t0 = 1700000000000L
    // two sessions for user 1 (gap > 30 min), one ongoing for user 2
    ms.addData(
      StreamingOps.SessionIn(1L, t0, 1.0),
      StreamingOps.SessionIn(1L, t0 + 60000, 2.0),
      StreamingOps.SessionIn(1L, t0 + 3600000, 3.0),
      StreamingOps.SessionIn(2L, t0, 9.0))
    val out = StreamingOps.sessionize(ms.toDS(), gapMs = 1800000L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sessout").start()
    try {
      // ProcessingTimeTimeout keeps the query scheduling batches, so
      // processAllAvailable never quiesces — poll the sink instead.
      def rows() = spark.sql("SELECT * FROM sessout")
        .as[StreamingOps.SessionOut].collect()
      val deadline = System.currentTimeMillis() + 60000
      while (rows().isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      // first session of user 1 closed by the in-batch gap
      assert(rows().toSeq ==
        Seq(StreamingOps.SessionOut(1L, t0, t0 + 60000, 2L, 3.0)))
    } finally q.stop()
  }

  test("evalAssign creates a new nest from a single-nest expression") {
    val r = graft.nested.NestedExpr.evalAssign(nf, "derived.e = nested.c * 2")
    assert(r.nestedColumns.toSet == Set("nested", "derived"))
    assert(r.subColumns("derived") == Seq("e"))
    val e0 = r.orderBy($"key").select(expr("derived[2].e")).as[Int].collect()
    assert(e0.toSeq == Seq(8, 8, 8)) // c sorted asc: [0,2,4],[1,3,4],[1,1,4]
  }

  test("splitNestedAuto discovers values") {
    val withBand = nf.withNestedField("nested", "band",
      s => when(s.getField("c") > 1, "g").otherwise("r"))
    val sp = NestedOps.splitNestedAuto(withBand, "nested", "band")
    assert(sp.nestedColumns.toSet == Set("nested_g", "nested_r"))
  }

  test("packSeq builds nested column from local data incl. NULL cells") {
    val df = NestedOps.packSeq(spark,
      Seq((0L, Some(Seq((1, "a"), (2, "b")))), (1L, None)))
    assert(df.count() == 2)
    assert(NestedOps.isNestedType(df.schema("nested").dataType))
    assert(df.where($"key" === 1L).select($"nested").collect()(0).isNullAt(0))
  }

  test("sortValues dispatches base vs nested and rejects mixing") {
    val baseSorted = NestedOps.sortValues(nf, Seq(("a", false)))
    assert(baseSorted.select("key").as[Long].collect().toSeq == Seq(2L, 1L, 0L))
    val nestSorted = NestedOps.sortValues(nf, Seq(("nested.c", false)))
    val c0 = nestSorted.orderBy($"key").select(expr("nested[0].c")).as[Int].collect()
    assert(c0.toSeq == Seq(4, 4, 4))
    intercept[IllegalArgumentException] {
      NestedOps.sortValues(nf, Seq(("a", true), ("nested.c", true)))
    }
  }

  test("withNestedFieldFromList aligns a separate list column into the nest") {
    val df = nf.withColumn("extra",
      expr("transform(nested, s -> s.c * 100)"))
    val r = NestedOps.withNestedFieldFromList(df, "nested", "e", "extra")
    val e = r.orderBy($"key").select(expr("nested.e")).as[Seq[Int]].collect()
    assert(e(0) == Seq(0, 200, 400))
  }

  test("event-time sessionize: watermark closes sessions, late events drop") {
    implicit val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
    val t0 = 1700000000000L
    def ts(ms_ : Long) = new java.sql.Timestamp(ms_)
    val df = ms.toDF().toDF("user_id", "ts", "value")
    val out = StreamingOps.sessionizeEventTime(df, "user_id", "ts",
      gap = "30 minutes", watermark = "30 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("etsess").start()
    try {
      // batch 1: one session for user 1 (2 events, 1 min apart)
      ms.addData((1L, ts(t0), 1.0), (1L, ts(t0 + 60000), 2.0))
      q.processAllAvailable()
      // batch 2: far-future event advances the watermark past session 1
      ms.addData((1L, ts(t0 + 3 * 3600 * 1000L), 3.0))
      q.processAllAvailable()
      // batch 3: a LATE event inside session 1's window — behind the
      // watermark, must be DROPPED, not merged or re-opened
      ms.addData((1L, ts(t0 + 30000), 9.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, CAST(session_start AS LONG) * 1000, " +
          "CAST(session_end AS LONG) * 1000, n_events FROM etsess")
        .as[(Long, Long, Long, Long)].collect().toSeq
      // exactly ONE closed session: [t0, t0+60s+gap), n_events=2 (late event
      // dropped); the 3h-later session is still open (not emitted)
      assert(rows == Seq((1L, t0, t0 + 60000 + 1800000, 2L)))
    } finally q.stop()
  }

  test("dedupNearStream suppresses same-simhash docs, keeps distinct ones") {
    implicit val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    val t0 = 1700000000000L
    ms.addData(
      (1L, new java.sql.Timestamp(t0), "the quick brown fox jumps high"),
      (2L, new java.sql.Timestamp(t0 + 1000),
        "the quick brown fox jumps high"), // exact dup → same simhash
      (3L, new java.sql.Timestamp(t0 + 2000),
        "completely different text with other words entirely"))
    val df = ms.toDF().toDF("id", "ts", "text")
    val out = StreamingOps.dedupNearStream(df, "ts", "text")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("neardedup").start()
    try {
      q.processAllAvailable()
      val ids = spark.sql("SELECT id FROM neardedup").as[Long]
        .collect().toSet
      assert(ids == Set(1L, 3L)) // dup id=2 suppressed
    } finally q.stop()
  }

  test("dedupAgainstIndexStream filters a stream vs a static band table") {
    implicit val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val index = Seq((100L, Seq(1L, 2L, 3L, 4L, 5L, 6L)))
      .toDF("doc_id", "sig")
    val bt = StreamingOps.indexBandTable(index, "doc_id", "sig",
      numHashes = 6, rowsPerBand = 2)
    val ms = MemoryStream[(Long, Seq[Long])](spark)
    ms.addData(
      (1L, Seq(1L, 2L, 9L, 9L, 9L, 9L)), // band 0 shared, agree 2/6 → kept
      (2L, Seq(1L, 2L, 3L, 4L, 5L, 8L)), // agree 5/6 ≥ 0.8 → dropped
      (3L, Seq(9L, 9L, 9L, 9L, 9L, 9L))) // no shared band → kept
    val out = StreamingOps.dedupAgainstIndexStream(
      ms.toDF().toDF("doc_id", "sig"), bt, "doc_id", "sig",
      numHashes = 6, rowsPerBand = 2, minAgree = 0.8)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("incdedup").start()
    try {
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM incdedup").as[Long]
        .collect().toSet
      assert(ids == Set(1L, 3L))
    } finally q.stop()
    // batch parity: the same frames through the batch operator agree
    val batchKept = operators.Dedup.dedupAgainstIndex(
        Seq((1L, Seq(1L, 2L, 9L, 9L, 9L, 9L)),
          (2L, Seq(1L, 2L, 3L, 4L, 5L, 8L)),
          (3L, Seq(9L, 9L, 9L, 9L, 9L, 9L))).toDF("doc_id", "sig"),
        index, "doc_id", "sig", 6, 2, minAgree = 0.8)
      .select($"doc_id").as[Long].collect().toSet
    assert(batchKept == Set(1L, 3L))
  }

  test("dedupStream drops duplicate keys within the watermark") {
    implicit val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    val t0 = 1700000000000L
    ms.addData(
      (1L, new java.sql.Timestamp(t0), "a"),
      (1L, new java.sql.Timestamp(t0), "a-dup"),
      (2L, new java.sql.Timestamp(t0 + 1000), "b"))
    val df = ms.toDF().toDF("id", "ts", "payload")
    val out = StreamingOps.dedupStream(df, "ts", Seq("id"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedupout").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM dedupout").as[Long].collect()(0) == 2)
    } finally q.stop()
  }

  test("dedupStream LATE-DATA contract: a key re-arriving after its " +
      "dedup state expired past the watermark is ADMITTED again") {
    // dropDuplicatesWithinWatermark's documented shape: state for a key
    // is dropped once the watermark passes its event time + delay, so a
    // far-later duplicate of an expired key is a NEW row (exactly-once
    // dedup holds only within the watermark window — the operator's
    // scale contract: state is O(keys per window), not O(all keys)).
    implicit val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    def ts(offMin: Long) =
      new java.sql.Timestamp(1700000000000L + offMin * 60000L)
    val out = StreamingOps.dedupStream(
      ms.toDF().toDF("id", "ts", "payload"), "ts", Seq("id"),
      watermark = "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_late").start()
    try {
      def batch(rows: (Long, java.sql.Timestamp, String)*): Unit = {
        ms.addData(rows); q.processAllAvailable()
      }
      batch((1L, ts(0), "first"))
      // in-watermark duplicate: dropped
      batch((1L, ts(5), "dup-in-window"))
      // advance the watermark far past key 1's state lifetime
      batch((2L, ts(60), "other"))
      // expired-key duplicate: admitted as a fresh first occurrence
      batch((1L, ts(61), "fresh-after-expiry"))
      val payloads = spark.sql("SELECT payload FROM dedup_late")
        .as[String].collect().toSet
      assert(payloads == Set("first", "other", "fresh-after-expiry"),
        s"got $payloads")
    } finally q.stop()
  }

  test("annLshStream ≡ batch lshTopK on the same index (stateless join)") {
    implicit val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dim = 4
    // deterministic corpus with distinct pairwise sims (no tie ambiguity)
    val corpus = (1L to 40L).map { i =>
      (i, Array.tabulate(dim)(d =>
        math.sin(i * 0.7 + d * 1.3) + 0.01 * i))
    }.toDF("vec_id", "embedding")
    val idx = StreamingOps.lshBucketTable(corpus, "vec_id", "embedding",
      numPlanes = 3, dim = dim)
    val queries = (1L to 10L).map { i =>
      (i + 100L, Array.tabulate(dim)(d => math.cos(i * 0.9 + d) + 0.02 * i))
    }
    val ms = MemoryStream[(Long, Array[Double])](spark)
    ms.addData(queries: _*)
    val out = StreamingOps.annLshStream(ms.toDF().toDF("vec_id", "embedding"),
      idx, k = 3, "vec_id", "embedding", numPlanes = 3, dim = dim)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("annstream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT query_id, rank, neighbor_id, round(sim, 9) FROM annstream")
        .as[(Long, Int, Long, Double)].collect().toSet
      val batch = graft.operators.Similarity.lshTopK(
          queries.toDF("vec_id", "embedding"), corpus, k = 3,
          numPlanes = 3, dim = dim)
        .select($"query_id", $"rank".cast("int"), $"neighbor_id",
          round($"sim", 9)).as[(Long, Int, Long, Double)].collect().toSet
      assert(streamed == batch,
        s"stream/batch diverged: ${streamed.diff(batch)} vs ${batch.diff(streamed)}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("flagContaminationStream: bloom flag ⊇ exact hits, clean is clean") {
    implicit val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val bench = Seq((100L, "the secret eval phrase appears here"))
      .toDF("doc_id", "text")
    val benchGrams = bench.select(explode(
      graft.functions.TextFunctions.tokenShingles($"text", 3)).as("__g"))
      .distinct()
    val blob = graft.operators.Dedup.gramBloom(benchGrams, fpp = 0.001)
    val corpus = (1L to 50L).map { i =>
      val planted = if (i % 10 == 0) " secret eval phrase padding" else ""
      (i, s"clean document body number $i with words$planted")
    }
    val ms = MemoryStream[(Long, String)](spark)
    ms.addData(corpus: _*)
    val df = ms.toDF().toDF("doc_id", "text")
    val out = StreamingOps.flagContaminationStream(df, "text", blob)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("contamflag").start()
    try {
      q.processAllAvailable()
      val flagged = spark.sql(
        "SELECT doc_id FROM contamflag WHERE contam_candidate")
        .as[Long].collect().toSet
      val exact = graft.operators.Dedup.contamination(
        corpus.toDF("doc_id", "text"), "doc_id", "text", bench, "text")
        .select("doc_id").as[Long].collect().toSet
      // THE contract: candidates ⊇ exact hits — bloom has no false
      // negatives, so an unflagged doc is definitively clean. False
      // positives are the quarantine sliver (this tiny 5-gram bloom is
      // only ~72 bits, so a few are expected); bound them loosely.
      assert(exact.subsetOf(flagged))
      assert(exact == (10L to 50L by 10L).toSet)
      assert((flagged -- exact).size <= 10,
        s"implausibly many bloom false positives: ${flagged -- exact}")
    } finally q.stop()
  }

  test("rdEvents: the three ts parquet encodings normalize to the same " +
      "wall-clock epoch nanos") {
    import spark.implicits._
    // one instant, 2024-03-15 12:34:56.123456 UTC
    val us = 1710506096123456L
    def dirFor(tag: String): String = {
      val d = java.nio.file.Files.createTempDirectory(s"evts_$tag").toString
      s"$d"
    }
    // (a) legacy nanos-as-long (rounds 1-6 driver encoding read form)
    val dLong = dirFor("long")
    Seq((1L, us * 1000L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dLong/events.parquet")
    // (b) TIMESTAMP_NTZ micros (round-7 regeneration)
    val dNtz = dirFor("ntz")
    Seq(1L).toDF("event_id")
      .withColumn("ts", timestamp_micros(lit(us)).cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(s"$dNtz/events.parquet")
    // (c) session-zoned TimestampType (UTC session pinned in TestSpark)
    val dTz = dirFor("tz")
    Seq(1L).toDF("event_id")
      .withColumn("ts", timestamp_micros(lit(us)))
      .write.mode("overwrite").parquet(s"$dTz/events.parquet")
    val got = Seq(dLong, dNtz, dTz).map { d =>
      Queries.rdEvents(spark, d).select("ts").as[Long].head()
    }
    assert(got.toSet == Set(us * 1000L), got)
  }

  test("RemoteIO: storage_options analog — scheme detection, conf " +
      "application, local read path (ref io.py storage_options, " +
      "test_io.py:424-478)") {
    import graft.sources.RemoteIO
    assert(RemoteIO.schemeOf("s3a://bucket/k/d.parquet") == "s3a")
    assert(RemoteIO.schemeOf("/tmp/x.parquet") == "file")
    // per-scheme confs carry the parquet-random-access knobs
    assert(RemoteIO.storageConf("s3a")
      .get("fs.s3a.experimental.input.fadvise").contains("random"))
    assert(RemoteIO.storageConf("abfss").nonEmpty)
    assert(RemoteIO.storageConf("file").isEmpty)
    intercept[IllegalArgumentException] { RemoteIO.storageConf("ftp") }
    // application reaches the session Hadoop conf (with caller extras)
    val applied = RemoteIO.applyStorageConf(spark, "s3a",
      Map("fs.s3a.endpoint" -> "http://localhost:9000"))
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.s3a.readahead.range") == "1048576")
    assert(hc.get("fs.s3a.endpoint") == "http://localhost:9000")
    assert(applied.size == RemoteIO.storageConf("s3a").size + 1)
    // the readParquet path works end-to-end on the local scheme
    val dir = java.nio.file.Files.createTempDirectory("remoteio").toString
    spark.range(5).toDF("id").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    assert(RemoteIO.readParquet(spark, s"$dir/t.parquet").count() == 5)
    // legal local paths that are not legal URIs still fall back to file
    assert(RemoteIO.schemeOf("/tmp/my dir/x.parquet") == "file")
  }

  test("RemoteIO: registered custom scheme end-to-end — testfs:// parquet " +
      "read dispatches through the scheme's FileSystem with its conf " +
      "applied (fsspec register_implementation analog)") {
    import graft.sources.RemoteIO
    RemoteIO.registerScheme("testfs", Map(
      "fs.testfs.impl" -> classOf[TestFs].getName,
      "fs.testfs.readahead.range" -> "262144",
      "graft.testfs.marker" -> "applied"))
    assert(RemoteIO.storageConf("testfs")
      .get("graft.testfs.marker").contains("applied"))
    val dir = java.nio.file.Files.createTempDirectory("testfs").toString
    spark.range(7).toDF("id").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    val before = TestFs.opens
    val df = RemoteIO.readParquet(spark, s"testfs://$dir/t.parquet")
    assert(df.count() == 7)
    assert(spark.sparkContext.hadoopConfiguration
      .get("graft.testfs.marker") == "applied")
    // the read was actually served by the custom FileSystem
    assert(TestFs.opens > before)
    // r12: the scheme's TUNING key was visible INSIDE the FileSystem at
    // open() time — the same conf channel fs.s3a.readahead.range rides
    // (the S3A client itself cannot execute here: hadoop-aws + AWS SDK
    // jars are absent and unvendorable in the zero-egress sandbox;
    // PARITY.md r12 note)
    assert(TestFs.readaheadSeen == "262144",
      s"expected readahead conf inside the FS, got ${TestFs.readaheadSeen}")
  }

  test("no unbounded-following window frames in the ordered verbs (the " +
      "O(n^2) UnboundedFollowingWindowFunctionFrame class, r12): " +
      "interpolate, bfill and the as-of forward/nearest sweeps must " +
      "plan as prefix frames only") {
    import graft.operators.{InheritedOps, Joins}
    import org.apache.spark.sql.functions.{col => c0, when => w0, lit => l0}
    val df = spark.range(0, 100).toDF("k")
      .withColumn("g", c0("k") % 3)
      .withColumn("v", w0(c0("k") % 7 < 2, l0(null))
        .otherwise(c0("k").cast("double")))
    val right = spark.range(0, 50).toDF("k")
      .withColumn("g", c0("k") % 3)
      .withColumn("ts", c0("k").cast("double"))
      .withColumn("payload", c0("k") * 2)
    val left = spark.range(0, 80).toDF("k")
      .withColumn("g", c0("k") % 3)
      .withColumn("ts", c0("k").cast("double") + 0.5)
    def planOf(d: org.apache.spark.sql.DataFrame): String =
      d.queryExecution.executedPlan.toString
    // Spark prints the frame as `unboundedfollowing$()` — no space — so
    // normalize before matching (r12 review: the spaced form never
    // appears and made the first version of this guard vacuous)
    def hasUnboundedFollowing(plan: String): Boolean =
      plan.toUpperCase.replace(" ", "").contains("UNBOUNDEDFOLLOWING")
    // positive control: a deliberately-bad plan MUST trip the matcher
    import org.apache.spark.sql.expressions.{Window => W0}
    val badPlan = planOf(df.withColumn("nx",
      org.apache.spark.sql.functions.first(c0("v"), ignoreNulls = true)
        .over(W0.partitionBy(c0("g")).orderBy(c0("k"))
          .rowsBetween(W0.currentRow, W0.unboundedFollowing))))
    assert(hasUnboundedFollowing(badPlan),
      "positive control failed: matcher no longer detects an " +
        s"unbounded-following frame — update it. Plan:\n$badPlan")
    val plans = Seq(
      "interpolate" -> planOf(InheritedOps.interpolateLinear(
        df, "v", "k", Seq("g"))),
      "bfill" -> planOf(InheritedOps.fillDirectional(
        df, forward = false, "k", Seq("g"))),
      "asof_forward" -> planOf(Joins.asofJoinBy(
        left.withColumnRenamed("k", "lk"), right.drop("k"),
        Seq("g"), "ts", direction = "forward")),
      "asof_nearest" -> planOf(Joins.asofJoinBy(
        left.withColumnRenamed("k", "lk"), right.drop("k"),
        Seq("g"), "ts", direction = "nearest")))
    for ((name, plan) <- plans)
      assert(!hasUnboundedFollowing(plan),
        s"$name plans an unbounded-following frame (O(n^2) per row):\n" +
          plan.linesIterator.filter(l => hasUnboundedFollowing(l))
            .take(3).mkString("\n"))
  }

  test("qcutBins approxAccuracy: the 100 TB edge path bins ~equal-sized " +
      "buckets from one sketch aggregate, exact path matches pandas " +
      "quartiles on a clean dyadic case") {
    import graft.operators.InheritedOps
    val df = spark.range(1, 1001).toDF("v") // 1..1000
    // exact path, dyadic q=4 on integers: quartile edges land on data
    val exact = InheritedOps.qcutBins(df, "v", 4)
      .groupBy("bin").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.keySet == Set(0L, 1L, 2L, 3L))
    assert(exact.values.sum == 1000L)
    // pandas puts 250 in each quartile here (edges 250.75/500.5/750.25)
    assert(exact.values.forall(c => c >= 249 && c <= 251), s"$exact")
    // approx path: same shape, buckets within 5% of equal at this
    // accuracy; raises nothing, bins cover every row
    val approx = InheritedOps.qcutBins(df, "v", 4,
        duplicates = "drop", approxAccuracy = Some(10000))
      .groupBy("bin").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(approx.values.sum == 1000L, s"approx bins dropped rows: $approx")
    assert(approx.keySet.max <= 3L && approx.values.forall(_ >= 200),
      s"approx buckets badly skewed: $approx")
  }

  // -------------------------------------------------------------------------
  // r13: scale-hardening guards (factorize domain window, domain caps,
  // name collisions, unstack duplicate raise) + new-surface edges
  // -------------------------------------------------------------------------

  test("factorizeCodes plans NO window at all and survives a domain as " +
      "large as the data (r12 scale demerit: the single-partition " +
      "row_number domain window)") {
    import graft.operators.InheritedOps
    import org.apache.spark.sql.functions.{col => c0, concat_ws, lit => l0}
    // high-cardinality shape: |domain| == |rows|
    val df = spark.range(0, 5000).toDF("k")
      .withColumn("u", concat_ws("-", l0("id"), c0("k")))
    val out = InheritedOps.factorizeCodes(df, "u", "k",
      broadcastDomainCap = 100) // forces the non-broadcast join path too
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"factorizeCodes still plans a Window node:\n$plan")
    val rows = out.select(c0("k"), c0("code")).collect()
    assert(rows.length == 5000)
    // first-appearance along k with a unique domain ⇒ code == k
    assert(rows.forall(r => r.getLong(0) == r.getLong(1)),
      "codes are not first-appearance ordered")
  }

  test("crosstab/get_dummies domain caps fail loudly; get_dummies " +
      "collision raises unless a prefix disambiguates") {
    import graft.operators.InheritedOps
    import org.apache.spark.sql.functions.{col => c0}
    val wide = spark.range(0, 50).toDF("k")
      .withColumn("v", c0("k").cast("string"))
      .withColumn("g", c0("k") % 2)
    val e1 = intercept[IllegalArgumentException] {
      InheritedOps.crosstabCounts(wide, "g", "v", maxDomain = 10)
    }
    assert(e1.getMessage.contains("distinct values"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      InheritedOps.getDummies(wide, "v", maxDomain = 10)
    }
    assert(e2.getMessage.contains("distinct values"), e2.getMessage)
    // a domain value equal to an existing column name ("g") collides
    val clashing = spark.range(0, 3).toDF("k")
      .withColumn("s", org.apache.spark.sql.functions
        .when(c0("k") === 0, "g").otherwise("x"))
      .withColumn("g", c0("k") % 2)
    val e3 = intercept[IllegalArgumentException] {
      InheritedOps.getDummies(clashing, "s")
    }
    assert(e3.getMessage.contains("collide"), e3.getMessage)
    val prefixed = InheritedOps.getDummies(clashing, "s", prefix = "d")
    assert(prefixed.columns.takeRight(2).toSeq == Seq("d_g", "d_x"))
    assert(prefixed.where(c0("d_g")).count() == 1)
  }

  test("unstackFrame raises on a duplicated (index, column) pair from " +
      "inside the pivot aggregate; unique pairs pivot to first values") {
    import graft.operators.InheritedOps
    import org.apache.spark.sql.functions.{col => c0}
    val ok = spark.createDataFrame(Seq(
      (1L, "x", 1.0), (1L, "y", 2.0), (2L, "x", 3.0)))
      .toDF("k", "c", "v")
    val un = InheritedOps.unstackFrame(ok, "k", "c", "v")
      .orderBy(c0("k")).collect()
    assert(un.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(un(1).isNullAt(2), "absent combination must read missing")
    val dup = ok.union(spark.createDataFrame(Seq((1L, "x", 9.0)))
      .toDF("k", "c", "v"))
    val e = intercept[Exception] {
      InheritedOps.unstackFrame(dup, "k", "c", "v").collect()
    }
    assert(e.getMessage != null &&
      e.getMessage.contains("duplicate entries"),
      s"expected the unstack duplicate raise, got: ${e.getMessage}")
  }

  test("ewm parameterization helpers replay the pandas center-of-mass " +
      "chain; ewmVar/ewmMean partitioned ≡ unpartitioned per group") {
    import graft.operators.InheritedOps
    import org.apache.spark.sql.functions.{col => c0, when => w0, lit => l0}
    assert(InheritedOps.ewmAlphaFromSpan(3.0) == 0.5)
    assert(InheritedOps.ewmAlphaFromCom(1.0) == 0.5)
    assert(math.abs(InheritedOps.ewmAlphaFromHalflife(1.0) - 0.5) < 1e-15)
    val df = spark.range(0, 60).toDF("k")
      .withColumn("g", c0("k") % 3)
      .withColumn("v", w0(c0("k") % 5 === 2, l0(null))
        .otherwise(c0("k").cast("double") * 1.7 - 20))
    val part = InheritedOps.ewmVar(df, "v", 0.3, "k", Seq("g"), std = true)
      .select(c0("k"), c0("ewm")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
                                 else r.getDouble(1))).toMap
    for (g <- 0L to 2L) {
      val solo = InheritedOps.ewmVar(df.where(c0("g") === g), "v",
          0.3, "k", Nil, std = true)
        .select(c0("k"), c0("ewm")).collect()
      for (r <- solo) {
        val exp = if (r.isNullAt(1)) null else r.getDouble(1)
        assert(part(r.getLong(0)) == exp,
          s"k=${r.getLong(0)}: partitioned ${part(r.getLong(0))} != $exp")
      }
    }
  }

  test("rollingTimeAgg partitioned ≡ unpartitioned per group; resample " +
      "emits empty bins with the pandas fills and label=right shifts") {
    import graft.operators.InheritedOps
    import org.apache.spark.sql.functions.{col => c0, timestamp_micros}
    val df = spark.range(0, 48).toDF("k")
      .withColumn("g", c0("k") % 2)
      .withColumn("ts", timestamp_micros(c0("k") * 700000L +
        (c0("k") % 2) * 300000L))
      .withColumn("v", c0("k").cast("double"))
    val part = InheritedOps.rollingTimeAgg(df, "v", "mean",
        2000000L, "ts", "k", minPeriods = 1, partitionBy = Seq("g"))
      .select(c0("k"), c0("rolled")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (g <- 0L to 1L) {
      val solo = InheritedOps.rollingTimeAgg(df.where(c0("g") === g),
          "v", "mean", 2000000L, "ts", "k", minPeriods = 1)
        .select(c0("k"), c0("rolled")).collect()
      for (r <- solo)
        assert(part(r.getLong(0)) == r.getDouble(1))
    }
    // resample: rows at seconds 0, 1 and 9 with freq 3s → bins 0,3,6,9;
    // bins 3 and 6 are EMPTY (sum 0.0 / count 0 / mean null)
    val sparse = spark.createDataFrame(Seq(
      (0L, 1.0), (1L, 5.0), (9L, 7.0))).toDF("sec", "v")
      .withColumn("ts", timestamp_micros(c0("sec") * 1000000L))
    def runs(fn: String) = InheritedOps.resampleAgg(
        sparse, "ts", 3000000L, fn, "v")
      .orderBy(c0("bin")).collect()
    val sums = runs("sum")
    assert(sums.length == 4, s"expected 4 bins, got ${sums.length}")
    assert(sums.map(_.getDouble(1)).toSeq == Seq(6.0, 0.0, 0.0, 7.0))
    val counts = runs("count")
    assert(counts.map(_.getLong(1)).toSeq == Seq(2L, 0L, 0L, 1L))
    val means = runs("mean")
    assert(means(1).isNullAt(1) && means(2).isNullAt(1))
    val right = InheritedOps.resampleAgg(sparse, "ts", 3000000L,
        "sum", "v", label = "right").orderBy(c0("bin")).collect()
    assert(right.head.getTimestamp(0).getTime ==
      sums.head.getTimestamp(0).getTime + 3000L,
      "label=right must shift the label one freq forward")
  }
}
