package graft

import graft.nested.{NestedOps, NestedExpr, syntax}
import syntax._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Unit tests mirroring the reference's F2 fixture
  * (tests/nested_pandas/nestedframe/test_nestedframe.py:886-892). */
class NestedOpsSpec extends SparkSpec {
  import spark.implicits._

  // F2: base {a:[1,2,3], b:[4,5,6]} key=[0,1,2];
  // child key=[0,0,0,1,1,1,2,2,2], c, d
  lazy val base = Seq((0L, 1, 4), (1L, 2, 5), (2L, 3, 6)).toDF("key", "a", "b")
  lazy val child = Seq(
    (0L, 0, 5), (0L, 2, 4), (0L, 4, 7),
    (1L, 1, 5), (1L, 4, 3), (1L, 3, 1),
    (2L, 1, 9), (2L, 4, 3), (2L, 1, 4)).toDF("key", "c", "d")
  lazy val nf = base.joinNested(child, Seq("key"), "nested",
    sortBy = Seq(("c", true), ("d", true)))

  test("schema introspection") {
    assert(nf.nestedColumns == Seq("nested"))
    assert(nf.baseColumns == Seq("key", "a", "b"))
    assert(nf.subColumns("nested") == Seq("c", "d"))
    assert(nf.allNestedColumns == Seq("key", "a", "b", "nested.c", "nested.d"))
  }

  test("mapping protocol: iter and len over nest fields") {
    // reference accessor.py:841-845: __iter__ yields field names, __len__
    // counts them
    assert(nf.nestFieldIterator("nested").toSeq == Seq("c", "d"))
    assert(nf.nestNumFields("nested") == 2)
  }

  test("mapping protocol: accessor equality") {
    // reference accessor.py:847-850: same type + underlying series equal
    assert(nf.nestEquals(nf, "nested"))
    // same schema, different values → not equal
    val other = nf.withNestedField("nested", "c", e => e.getField("c") + 1)
    assert(!nf.nestEquals(other, "nested"))
    // different schema (field dropped) → not equal, short-circuits
    assert(!nf.nestEquals(nf.dropNestedFields("nested", "d"), "nested"))
    // row order must NOT matter (series equality is by index/value, and
    // a Spark frame has no order): a reversed frame still compares equal
    assert(nf.nestEquals(nf.orderBy($"key".desc), "nested"))
    // index-ALIGNED comparison (the reference's actual __eq__): pass the
    // key columns — cells swapped between keys then compare NOT equal,
    // even though the bare multiset of cells is identical
    val swapped = nf.withColumn("key",
      when($"key" === 0L, 1L).when($"key" === 1L, 0L).otherwise($"key"))
    assert(nf.nestEquals(swapped, "nested")) // keyless: same cell multiset
    assert(!nf.nestEquals(swapped, "nested", on = Seq("key")))
    assert(nf.nestEquals(nf.orderBy($"key".desc), "nested", on = Seq("key")))
  }

  test("mapping protocol: contains / keys / values / items") {
    // reference accessor.py MutableMapping surface: __contains__ checks
    // field membership; keys/values/items expose the list-series columns
    assert(NestedOps.nestContains(nf, "nested", "c"))
    assert(!NestedOps.nestContains(nf, "nested", "zz"))
    assert(NestedOps.nestKeys(nf, "nested") == Seq("c", "d"))
    val items = NestedOps.nestItems(nf, "nested")
    assert(items.map(_._1) == Seq("c", "d"))
    // each value column is the per-row LIST of that field (get_list_series)
    val firstList = nf.orderBy("key")
      .select(NestedOps.nestValues(nf, "nested").head)
      .as[Seq[Int]].collect()(0)
    assert(firstList == Seq(0, 2, 4))
  }

  test("mapping protocol: clear always raises") {
    // reference accessor.py:852-857: MutableMapping.clear is mandatory but
    // unsupported — a nest cannot have zero fields
    val e = intercept[UnsupportedOperationException] {
      nf.clearNestedFields("nested")
    }
    assert(e.getMessage.contains("nested"))
  }

  test("joinNested packs 3 elements per key") {
    val sizes = nf.select(size($"nested")).as[Int].collect()
    assert(sizes.toSeq == Seq(3, 3, 3))
    assert(nf.count() == 3)
  }

  test("joinNested left keeps keyless rows as NULL cells") {
    val base4 = base.union(Seq((3L, 9, 9)).toDF)
    val j = base4.joinNested(child, Seq("key"), "nested")
    val row = j.filter($"key" === 3L).select($"nested").collect()(0)
    assert(row.isNullAt(0)) // NULL cell, not empty array
  }

  test("element filter keeps all rows, empties cells") {
    // reference: query("nested.c > 1") keeps 7 of 9 elements
    val q = nf.filterElements("nested", s => s.getField("c") > 1)
    assert(q.count() == 3)
    val total = q.select(sum(size($"nested"))).as[Long].collect()(0)
    assert(total == 5) // c values: 0,2,4 | 1,4,3 | 1,4,1 → >1: 2 + 2 + 1
  }

  test("string query dialect: element-level") {
    val q = NestedExpr.query(nf, "nested.c > 1")
    val total = q.select(sum(size($"nested"))).as[Long].collect()(0)
    assert(total == 5)
    assert(q.count() == 3)
  }

  test("string query dialect: base-level and len()") {
    assert(NestedExpr.query(nf, "a > 1").count() == 2)
    assert(NestedExpr.query(nf, "nested.len() == 3").count() == 3)
    assert(NestedExpr.query(nf, "nested.len() > 3").count() == 0)
  }

  test("string query dialect rejects mixed layers") {
    intercept[IllegalArgumentException] {
      NestedExpr.query(nf, "nested.c > a")
    }
  }

  test("eval assignment adds a field inside the nest") {
    val r = NestedExpr.evalAssign(nf, "nested.e = nested.c + nested.d")
    assert(r.subColumns("nested") == Seq("c", "d", "e"))
    val firstE = r.orderBy($"key")
      .select(expr("nested[0].e")).as[Int].collect()(0)
    assert(firstE == 5) // sorted by (c,d): first element (0,5) → e=5
  }

  test("eval assignment with base rhs") {
    val r = NestedExpr.evalAssign(nf, "ab = a + b")
    assert(r.select(sum($"ab")).as[Long].collect()(0) == 21)
  }

  test("toFlat round-trips packFlat") {
    val flat = nf.toFlat("nested", baseCols = Seq("key"))
    assert(flat.columns.toSeq == Seq("key", "c", "d"))
    assert(flat.count() == 9)
  }

  test("toLists produces per-field arrays") {
    val l = nf.toLists("nested", baseCols = Seq("key"))
    assert(l.columns.toSeq == Seq("key", "c", "d"))
    val c0 = l.orderBy($"key").select($"c").as[Seq[Int]].collect()(0)
    assert(c0 == Seq(0, 2, 4))
  }

  test("fromLists zips lists into a nest") {
    val lists = Seq((1, Seq(1, 2, 3), Seq(2, 4, 6))).toDF("k", "e", "f")
    val n = lists.fromLists(Seq("e", "f"), "nested")
    assert(n.nestedColumns == Seq("nested"))
    assert(n.subColumns("nested") == Seq("e", "f"))
    assert(n.select(expr("nested[1].f")).as[Int].collect()(0) == 4)
  }

  test("withNestedField mutates elements (may close over base cols)") {
    val r = nf.withNestedField("nested", "cd",
      s => s.getField("c") * s.getField("d") + col("a"))
    val v = r.orderBy($"key").select(expr("nested[2].cd")).as[Int].collect()(0)
    assert(v == 4 * 7 + 1)
  }

  test("dropNestedFields and ≥1 field invariant") {
    val r = nf.dropNestedFields("nested", "d")
    assert(r.subColumns("nested") == Seq("c"))
    intercept[IllegalArgumentException] {
      nf.dropNestedFields("nested", "c", "d")
    }
  }

  test("packFlat mixed-direction sortBy: native encode path, comparator " +
      "null/NaN placement, deterministic payload tie-break") {
    import java.sql.Timestamp
    def ts(s: String): Timestamp = Timestamp.valueOf(s)
    // (key, ts, d, tag): ts sorts DESC (comparator rule: nulls LAST),
    // d sorts ASC (nulls FIRST, NaN treated as NA = with the nulls)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("t",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("d",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType)))
    val rows = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, ts("2020-01-02 00:00:00"), 1.0, "A"),
        Row(1L, ts("2020-01-02 00:00:00"), Double.NaN, "B"),
        Row(1L, null, 0.5, "C"),
        Row(1L, ts("2020-01-01 00:00:00"), null, "D"),
        Row(1L, ts("2020-01-02 00:00:00"), null, "E"),
        Row(1L, ts("2020-01-01 00:00:00"), 2.0, "F")),
      schema)
    val packed = NestedOps.packFlat(rows, Seq("key"), "items",
      sortBy = Seq(("t", false), ("d", true)))
    // the mixed-direction NATIVE path engaged (desc null-flag column __n0
    // only exists there; the comparator path has no such field)
    assert(packed.queryExecution.executedPlan.toString.contains("__n0"))
    // ts desc (nulls last): 01-02 {A,B,E} → 01-01 {D,F} → null {C};
    // within 01-02, d asc with NaN-as-NA: {B,E} (both NA) before A, and the
    // B/E tie breaks by raw payload ascending (null d < NaN d → E first);
    // within 01-01, d asc nulls first: D before F
    val got = packed.select(expr("transform(items, e -> e.tag)"))
      .as[Seq[String]].collect()(0)
    assert(got == Seq("E", "B", "A", "D", "F", "C"), got)

    // TIMESTAMP_NTZ desc key (the lineitem l_shipdate shape): the encode is
    // timezone-free field arithmetic — verify sub-second ordering survives
    // and the native path engages
    val ntz = Seq(
      (1L, java.time.LocalDateTime.parse("2020-03-08T02:30:00.000001"), "a"),
      (1L, java.time.LocalDateTime.parse("2020-03-08T02:30:00.000002"), "b"),
      (1L, java.time.LocalDateTime.parse("2020-03-07T23:59:59.999999"), "c"),
      (1L, null.asInstanceOf[java.time.LocalDateTime], "d"))
      .toDF("key", "t", "tag")
    assert(ntz.schema("t").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val np = NestedOps.packFlat(ntz, Seq("key"), "items",
      sortBy = Seq(("t", false), ("tag", true)))
    assert(np.queryExecution.executedPlan.toString.contains("__n0"))
    val ngot = np.select(expr("transform(items, e -> e.tag)"))
      .as[Seq[String]].collect()(0)
    // t desc, nulls last: .000002 > .000001 > 23:59:59.999999 > null
    assert(ngot == Seq("b", "a", "c", "d"), ngot)
  }

  /** ArraySort (comparator lambda) nodes in the analyzed plan (the
    * optimizer folds a projection over local data away). */
  private def comparators(d: org.apache.spark.sql.DataFrame): Int =
    d.queryExecution.analyzed.map(_.expressions.map(_.collect {
      case a: org.apache.spark.sql.catalyst.expressions.ArraySort => a
    }.size).sum).sum

  test("sortElements native encode = comparator order for every encodable " +
      "type, direction and na_position, ties in element order") {
    import org.apache.spark.sql.types._
    import java.time.{LocalDate, LocalDateTime}
    import java.math.{BigDecimal => JBigDecimal}
    // per type: ties, NULL keys and the type's extremes (NaN and ±0.0 on
    // floating types, MinValue on integral ones)
    val cases: Seq[(DataType, Seq[Any])] = Seq(
      ByteType -> Seq(Byte.MinValue, 3.toByte, null, 3.toByte, Byte.MaxValue,
        (-1).toByte, null, 0.toByte),
      ShortType -> Seq(Short.MinValue, 7.toShort, null, 7.toShort,
        Short.MaxValue, (-1).toShort, 0.toShort, null),
      IntegerType -> Seq(Int.MinValue, 5, null, 5, Int.MaxValue, -1, 0, null),
      LongType -> Seq(Long.MinValue, 5L, null, 5L, Long.MaxValue, -1L, 0L,
        Long.MinValue, null),
      FloatType -> Seq(1.5f, null, Float.NaN, 0.0f, -0.0f, 1.5f, -3.0f,
        Float.MaxValue, -Float.MaxValue, Float.NaN, Float.NegativeInfinity,
        Float.PositiveInfinity, 0.0f),
      DoubleType -> Seq(1.5, null, Double.NaN, 0.0, -0.0, 1.5, -3.0,
        Double.MaxValue, -Double.MaxValue, Double.NaN, Double.NegativeInfinity,
        Double.PositiveInfinity, -0.0),
      BooleanType -> Seq(true, false, null, true, false, null, true),
      DecimalType(12, 3) -> Seq(new JBigDecimal("1.500"), null,
        new JBigDecimal("-999999999.999"), new JBigDecimal("0.000"),
        new JBigDecimal("1.500"), new JBigDecimal("999999999.999"), null,
        new JBigDecimal("-0.001")),
      DateType -> Seq(LocalDate.of(2020, 1, 2), null, LocalDate.of(1969, 12, 31),
        LocalDate.of(2020, 1, 2), LocalDate.of(1, 1, 1),
        LocalDate.of(9999, 12, 31), null),
      TimestampType -> Seq(java.sql.Timestamp.valueOf("2020-01-02 00:00:00.000001"),
        null, java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999"),
        java.sql.Timestamp.valueOf("2020-01-02 00:00:00.000001"),
        java.sql.Timestamp.valueOf("2020-01-02 00:00:00"), null),
      TimestampNTZType -> Seq(LocalDateTime.parse("2020-03-08T02:30:00.000002"),
        null, LocalDateTime.parse("2020-03-08T02:30:00.000001"),
        LocalDateTime.parse("1969-12-31T23:59:59.999999"),
        LocalDateTime.parse("2020-03-08T02:30:00.000002"), null))
    val keySets = Seq(Seq(("v", true)), Seq(("v", false)),
      Seq(("g", true), ("v", false)), Seq(("g", false), ("v", true)))
    val variants = for (keys <- keySets;
                        na <- Seq(None, Some("first"), Some("last")))
      yield (keys, na)
    for ((dt, values) <- cases) {
      def elem(withMap: Boolean)(id: Int, v: Any): Row = {
        // g: a second key with ties and NULLs
        val g = if (id % 4 == 1) null else id % 3
        if (withMap) Row(id, g, v, Map("k" -> id)) else Row(id, g, v)
      }
      // cells: every value with two NULL elements, a NULL cell, an empty
      // cell, the values in reverse order (ties arrive the other way round)
      // and a single element
      def cells(withMap: Boolean): Seq[Seq[Row]] = {
        val e = values.zipWithIndex.map { case (v, i) => elem(withMap)(i, v) }
        val withNulls = (null +: e.take(3)) ++ (null +: e.drop(3))
        Seq(withNulls, null, Nil, e.reverse, e.take(1))
      }
      val fields = Seq(StructField("id", IntegerType),
        StructField("g", IntegerType), StructField("v", dt))
      val plain = StructType(fields)
      val mapped = StructType(fields :+
        StructField("m", MapType(StringType, IntegerType)))
      val rows = cells(false).zip(cells(true)).zipWithIndex.map {
        case ((n, nm), k) => Row(k.toLong, n, nm)
      }
      val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField("k", LongType),
          StructField("n", ArrayType(plain)),
          StructField("nm", ArrayType(mapped)))))
      // the map field makes the element non-orderable, so "nm" takes the
      // comparator fallback with the same keys and placement
      def sortAll(src: String) = variants.zipWithIndex
        .foldLeft(df.select(col("k"), col(src).as("src"))) {
          case (d, ((keys, na), j)) => NestedOps.sortElements(
            d.withColumn(s"o$j", col("src")), s"o$j", keys, na)
        }.select(col("k") +: variants.indices.map(j => col(s"o$j.id")): _*)
      val native = sortAll("n")
      val viaComparator = sortAll("nm")
      assert(comparators(native) == 0, s"$dt: comparator on the native path")
      assert(comparators(viaComparator) == variants.size,
        s"$dt: the map-field cells should take the comparator")
      val got = native.orderBy("k").collect()
      val want = viaComparator.orderBy("k").collect()
      for (r <- got.indices; j <- variants.indices) {
        val (g, w) = (Option(got(r).getSeq[Any](j + 1)),
          Option(want(r).getSeq[Any](j + 1)))
        assert(g == w, s"$dt ${variants(j)} cell $r: native $g, comparator $w")
      }
    }
  }

  test("sortElements string keys: all-descending stays native, a " +
      "descending string beside an ascending key falls back") {
    val df = Seq((1L, Seq(("b", 1), ("a", 2), (null, 3), ("b", 0), ("c", 4))))
      .toDF("k", "n")
    def order(d: org.apache.spark.sql.DataFrame) =
      d.select(col("n._2")).as[Seq[Int]].collect().head
    val desc = NestedOps.sortElements(df, "n", Seq(("_1", false)))
    assert(comparators(desc) == 0)
    assert(order(desc) == Seq(4, 1, 0, 2, 3)) // nulls last, ties in order
    val descFirst = NestedOps.sortElements(df, "n", Seq(("_1", false)),
      Some("first"))
    assert(comparators(descFirst) == 0)
    assert(order(descFirst) == Seq(3, 4, 1, 0, 2))
    val mixed = NestedOps.sortElements(df, "n", Seq(("_1", false), ("_2", true)))
    assert(comparators(mixed) == 1)
    assert(order(mixed) == Seq(4, 0, 1, 2, 3))
  }

  test("ordering sites plan no comparator lambda for encodable keys: " +
      "q_sort_napos, q_sort_head, q_from_flat, q_pack_salted") {
    for (q <- Seq("q_sort_napos", "q_sort_head", "q_from_flat",
        "q_pack_salted")) {
      val d = SparkEntry.queries(q)(spark, sf0001)
      assert(comparators(d) == 0, s"$q plans a comparator lambda")
    }
    // the mixed-direction sorted pack of q_sort_head is one native sort
    val plan = SparkEntry.queries("q_sort_head")(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("sort_array"), plan)
  }

  test("sortElements multi-key mixed direction") {
    val r = nf.sortElements("nested", ("c", false), ("d", true))
    val firstC = r.orderBy($"key").select(expr("nested[0].c")).as[Int].collect()
    assert(firstC.toSeq == Seq(4, 4, 4))
    // key=2 has c=[1,4,1]; desc c then asc d: (4,3),(1,4),(1,9)? d asc: (1,4),(1,9)
    val k2 = r.filter($"key" === 2).select(expr("nested.d")).as[Seq[Int]].collect()(0)
    assert(k2 == Seq(3, 4, 9))
  }

  test("countNested by value") {
    val withBand = nf.withNestedField("nested", "band",
      s => when(s.getField("c") > 1, "g").otherwise("r"))
    val counted = withBand.countNested("nested", Some("band"), Seq("g", "r"))
    val row = counted.orderBy($"key").select($"n_nested_g", $"n_nested_r").collect()(0)
    assert(row == Row(2, 1))
  }

  test("splitNested") {
    val withBand = nf.withNestedField("nested", "band",
      s => when(s.getField("c") > 1, "g").otherwise("r"))
    val sp = withBand.splitNested("nested", "band", Seq("g", "r"))
    assert(sp.nestedColumns.toSet == Set("nested_g", "nested_r"))
    val sizes = sp.orderBy($"key")
      .select(size($"nested_g"), size($"nested_r")).collect()(0)
    assert(sizes == Row(2, 1))
  }

  test("dropNaElements / fillNaElements") {
    val withNulls = nf.withNestedField("nested", "c",
      s => when(s.getField("c") === 0, lit(null)).otherwise(s.getField("c")))
    val dropped = withNulls.dropNaElements("nested", Seq("c"))
    val total = dropped.select(sum(size($"nested"))).as[Long].collect()(0)
    assert(total == 8)
    val filled = withNulls.fillNaElements("nested", Map("c" -> -1))
    val f = filled.orderBy($"key").select(expr("nested[0].c")).as[Int].collect()(0)
    assert(f == -1)
  }

  test("flattenInner hoists a double nest") {
    // outer: per key one element with inner = the nested array
    val dbl = nf.select($"key",
      array(struct($"a", $"nested".as("inner"))).as("outer"))
    val r = NestedOps.flattenInner(dbl, "outer", "inner")
    val sizes = r.select(size($"outer")).as[Int].collect()
    assert(sizes.toSeq == Seq(3, 3, 3))
    assert(NestedOps.subColumns(r, "outer") == Seq("a", "c", "d"))
  }

  test("aggAllColumns min/max incl. nested fields") {
    val mn = NestedOps.aggAllColumns(nf.drop("key"), "min").collect()(0)
    val mx = NestedOps.aggAllColumns(nf.drop("key"), "max").collect()(0)
    assert(mn.getInt(mn.fieldIndex("a")) == 1)
    assert(mn.getInt(mn.fieldIndex("nested.c")) == 0)
    assert(mx.getInt(mx.fieldIndex("nested.d")) == 9)
  }

  test("dropna / fillna treat literal NaN elements as NA like pandas") {
    val df = Seq((1L, Seq(1.0, Double.NaN, 3.0))).toDF("k", "l")
      .select($"k", transform($"l", x => struct(x.as("x"))).as("n"))
    val dropped = NestedOps.dropNaElements(df, "n")
      .select(transform($"n", s => s.getField("x")))
      .as[Seq[Double]].collect().head
    assert(dropped == Seq(1.0, 3.0), s"dropna should drop NaN: $dropped")
    val filled = NestedOps.fillNaElements(df, "n", Map("x" -> 9.0))
      .select(transform($"n", s => s.getField("x")))
      .as[Seq[Double]].collect().head
    assert(filled == Seq(1.0, 9.0, 3.0), s"fillna should fill NaN: $filled")
  }

  test("sort keys treat literal NaN as NA (na_position governs it)") {
    // pandas sorts NaN with the NA rows; Spark alone would order NaN as
    // the LARGEST double (desc would put it first, na_position='first'
    // would NOT move it)
    val df = Seq((1L, 3.0), (2L, Double.NaN), (3L, 1.0)).toDF("k", "v")
    val first = NestedOps.sortValues(df, Seq(("v", true)), Some("first"))
      .select("k").as[Long].collect().toSeq
    assert(first == Seq(2L, 3L, 1L), s"NaN should sort first: $first")
    val descLast = NestedOps.sortValues(df, Seq(("v", false)), Some("last"))
      .select("k").as[Long].collect().toSeq
    assert(descLast == Seq(1L, 3L, 2L), s"NaN should sort last: $descLast")
    // element sort inside a cell
    val nested = Seq((1L, Seq(3.0, Double.NaN, 1.0))).toDF("k", "l")
      .select($"k", transform($"l", x => struct(x.as("x"))).as("n"))
    val cell = NestedOps.sortElements(nested, "n", Seq(("x", true)),
      Some("last")).select(transform($"n", s => s.getField("x")))
      .as[Seq[Double]].collect().head
    assert(cell(0) == 1.0 && cell(1) == 3.0 && cell(2).isNaN,
      s"element NaN should sort last: $cell")
  }

  test("pack-time sortBy treats a NaN element key as NA too (r10 advice): " +
      "packFlat / packFlatSalted / fromFlat agree with sortElements") {
    // ascending default places NA first (Spark default null ordering);
    // before the fix a NaN key ordered as the LARGEST double (last)
    val child = Seq((1L, 3.0, "a"), (1L, Double.NaN, "b"), (1L, 1.0, "c"))
      .toDF("k", "v", "t")
    def order(d: org.apache.spark.sql.DataFrame, nest: String) =
      d.select(transform(col(nest), s => s.getField("t")))
        .as[Seq[String]].collect().head
    val plain = order(
      NestedOps.packFlat(child, Seq("k"), "n", Seq(("v", true))), "n")
    assert(plain == Seq("b", "c", "a"), s"packFlat NaN key misordered: $plain")
    val salted = order(
      NestedOps.packFlatSalted(child, Seq("k"), "n", 4, Seq(("v", true))), "n")
    assert(salted == Seq("b", "c", "a"),
      s"packFlatSalted NaN key misordered: $salted")
    val ff = order(NestedOps.fromFlat(child, Nil, Seq("v", "t"), Seq("k"),
      "n", Seq(("v", true))), "n")
    assert(ff == Seq("b", "c", "a"), s"fromFlat NaN key misordered: $ff")
  }

  test("describeAll excludes literal NaN from every stat (pandas skipna)") {
    val df = Seq(1.0, 3.0, Double.NaN).toDF("v")
    val got = NestedOps.describeAll(df).collect()
      .map(r => r.getString(1) -> r.get(2)).toMap
    assert(got("count") == 2.0, s"count should exclude NaN: $got")
    assert(got("mean") == 2.0, s"mean should skip NaN: $got")
    assert(got("max") == 3.0, s"max should skip NaN: $got")
  }

  test("aggAllColumns skips literal NaN like pandas skipna=True; " +
      "skipNa=false propagates it") {
    // Spark max() ORDERS NaN as the largest double — without the
    // NaN→NULL rewrite one NaN value hijacks every max (r9s5 review)
    val df = Seq(
      (1.0, Seq(2.0, Double.NaN)),
      (Double.NaN, Seq(5.0))).toDF("v", "l")
      .select($"v", transform($"l", x => struct(x.as("x"))).as("n"))
    val mx = NestedOps.aggAllColumns(df, "max").collect()(0)
    assert(mx.getDouble(mx.fieldIndex("v")) == 1.0,
      s"base max should skip NaN: $mx")
    assert(mx.getDouble(mx.fieldIndex("n.x")) == 5.0,
      s"element max should skip NaN: $mx")
    val strict = NestedOps.aggAllColumns(df, "max", skipNa = false)
      .collect()(0)
    assert(strict.isNullAt(strict.fieldIndex("v")) &&
      strict.isNullAt(strict.fieldIndex("n.x")),
      s"skipNa=false should yield NA for NaN-containing columns: $strict")
  }

  test("element aggregates (mean/sum/min/max) as columns") {
    val r = nf.select($"key",
      NestedOps.elementMean("nested", "c").as("mc"),
      NestedOps.elementSum("nested", "d").as("sd"))
      .orderBy($"key").collect()
    assert(r(0) == Row(0L, 2.0, 16.0))
    assert(r(1) == Row(1L, 8.0 / 3, 9.0))
  }

  test("backtick identifiers in query dialect") {
    val odd = nf.withColumnRenamed("nested", "bad dog")
      .withColumn("bad dog",
        expr("transform(`bad dog`, s -> named_struct('n/a', s.c, 'n/b', s.d))"))
    val q = NestedExpr.query(odd, "`bad dog`.`n/a` > 2")
    val total = q.select(sum(size(col("bad dog")))).as[Long].collect()(0)
    assert(total == 4) // c>2: key0 {4}, key1 {4,3}, key2 {4}
  }

  test("NULL-key children attach to no row (documented delta: ref raises)") {
    val childWithNull = child.union(
      Seq((null.asInstanceOf[java.lang.Long], 99, 99))
        .toDF("key", "c", "d"))
    val j = base.joinNested(childWithNull, Seq("key"), "nested")
    assert(j.count() == 3)
    val total = j.select(sum(size($"nested"))).as[Long].collect()(0)
    assert(total == 9) // the null-key element is dropped, not attached
  }

  test("len() usable in eval assignment rhs (base layer)") {
    val r = NestedExpr.evalAssign(nf, "n = nested.len() * 10")
    assert(r.orderBy($"key").select("n").as[Int].collect().toSeq ==
      Seq(30, 30, 30))
  }

  test("element filter nulls emptied cells (r9: every flat-repack " +
      "surface of the executed reference reports missing, not empty)") {
    val q = nf.filterElements("nested", s => s.getField("c") > 10)
    assert(q.count() == 3) // rows kept
    assert(q.where($"nested".isNull).count() == 3) // cells MISSING
  }

  test("dialect passes through SQL operators: in / between / and / abs") {
    assert(NestedExpr.query(nf, "a in (1, 3) and b between 4 and 6").count() == 2)
    val q = NestedExpr.query(nf, "abs(nested.c - 2) <= 1")
    val total = q.select(sum(size($"nested"))).as[Long].collect()(0)
    assert(total == 5) // |c-2|<=1: {2}, {1,3}, {1,1}
  }

  test("dropColumns drops base and dotted nested columns together") {
    val r = NestedOps.dropColumns(nf, Seq("b", "nested.d"))
    assert(r.columns.toSeq == Seq("key", "a", "nested"))
    assert(NestedOps.subColumns(r, "nested") == Seq("c"))
  }

  // --- cross-nest / multiline eval assignment -------------------------------
  // Ports of the reference's test_eval_assignment
  // (tests/nested_pandas/nestedframe/test_nestedframe.py:2448-2545).

  private def flat(df: org.apache.spark.sql.DataFrame, nest: String,
                   field: String): Seq[Double] =
    df.orderBy($"key")
      .select(explode(col(s"$nest.$field")).as("v"))
      .select($"v".cast("double")).as[Double].collect().toSeq

  test("eval creates a new nest from a single-nest rhs") {
    val r = NestedExpr.evalAssign(nf, "p2.c2 = nested.c * 2")
    assert(r.nestedColumns.toSet == Set("nested", "p2"))
    assert(NestedOps.subColumns(r, "p2") == Seq("c2"))
    assert(flat(r, "p2", "c2") == flat(nf, "nested", "c").map(_ * 2))
  }

  test("eval assigns across two different nests, element-aligned, plus base") {
    val r2 = NestedExpr.evalAssign(nf, "p2.c2 = nested.c * 2")
    val r3 = NestedExpr.evalAssign(r2, "p2.d = p2.c2 + nested.d * 2 + b")
    assert(NestedOps.subColumns(r3, "p2") == Seq("c2", "d"))
    val expect = r2.orderBy($"key")
      .select(explode(arrays_zip($"p2", $"nested")).as("e"), $"b")
      .select(($"e.p2.c2" + $"e.nested.d" * 2 + $"b").cast("double"))
      .as[Double].collect().toSeq
    assert(flat(r3, "p2", "d") == expect)
  }

  test("eval creates a new nest from another nest + base columns") {
    val r = NestedExpr.evalAssign(nf, "p2.e = nested.d * 2 + a")
    val expect = nf.orderBy($"key")
      .select(explode($"nested.d").as("d"), $"a")
      .select(($"d" * 2 + $"a").cast("double")).as[Double].collect().toSeq
    assert(flat(r, "p2", "e") == expect)
  }

  test("multiline eval: each line sees the previous line's columns (GH#159)") {
    val r = NestedExpr.eval(nf,
      """
      c = a + b
      nested.e = nested.d * 2
      p2.e = nested.e + c
      p2.f = p2.e + b
      """)
    assert(r.nestedColumns.toSet == Set("nested", "p2"))
    assert(NestedOps.subColumns(r, "nested") == Seq("c", "d", "e"))
    assert(NestedOps.subColumns(r, "p2") == Seq("e", "f"))
    val expectE = nf.orderBy($"key")
      .select(explode($"nested.d").as("d"), ($"a" + $"b").as("c"))
      .select(($"d" * 2 + $"c").cast("double")).as[Double].collect().toSeq
    assert(flat(r, "p2", "e") == expectE)
    val expectF = nf.orderBy($"key")
      .select(explode($"nested.d").as("d"), $"a", $"b")
      .select(($"d" * 2 + $"a" + $"b" + $"b").cast("double"))
      .as[Double].collect().toSeq
    assert(flat(r, "p2", "f") == expectF)
  }

  test("cross-nest eval raises when nests are not element-aligned") {
    // p3 has fewer elements than nested (filtered), so alignment must fail
    val p3 = NestedExpr.evalAssign(nf, "p3.c = nested.c + 1")
      .filterElements("p3", e => e.getField("c") > 1)
    val bad = NestedExpr.evalAssign(p3, "nested.x = nested.c + p3.c")
    val e = intercept[Exception] { bad.collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("element-aligned")))
  }

  test("eval rejects base target with nested rhs and >1 nesting level") {
    intercept[IllegalArgumentException] {
      NestedExpr.evalAssign(nf, "g = nested.c * 2")
    }
    intercept[IllegalArgumentException] {
      NestedExpr.evalAssign(nf, "nested.c.inner = nested.c * 2")
    }
  }

  test("eval reductions: nest.field.agg() is the GLOBAL Series value " +
      "(pandas eval semantics, r8 parity fix); per-cell via " +
      "elementReduction") {
    // all c: [0,2,4,1,4,3,1,4,1] → global median 2, sum 20, count 9;
    // all d: [5,4,7,5,3,1,9,3,4] → max-min = 8
    val r = NestedExpr.evalSelect(nf, "a + nested.c.median()", "m")
    assert(r.orderBy($"key").select($"m".cast("double")).as[Double]
      .collect().toSeq == Seq(3.0, 4.0, 5.0))
    val s2 = NestedExpr.evalSelect(nf, "nested.c.sum()", "s")
    assert(s2.orderBy($"key").select($"s".cast("double")).as[Double]
      .collect().toSeq == Seq(20.0, 20.0, 20.0))
    val mx = NestedExpr.evalSelect(nf, "nested.d.max() - nested.d.min()", "r")
    assert(mx.orderBy($"key").select($"r".cast("double")).as[Double]
      .collect().toSeq == Seq(8.0, 8.0, 8.0))
    val cnt = NestedExpr.evalSelect(nf, "nested.c.count()", "n")
    assert(cnt.orderBy($"key").select($"n").as[Long].collect().toSeq ==
      Seq(9L, 9L, 9L))
    // the engine-extension PER-CELL reductions (old dialect behavior)
    // cells (sorted by c,d): [0,2,4], [1,3,4], [1,1,4]
    val pc = nf.withColumn("m",
        NestedExpr.elementReduction("nested", "c", "median"))
      .withColumn("s", NestedExpr.elementReduction("nested", "c", "sum"))
    assert(pc.orderBy($"key").select($"m".cast("double")).as[Double]
      .collect().toSeq == Seq(2.0, 3.0, 1.0))
    assert(pc.orderBy($"key").select($"s".cast("double")).as[Double]
      .collect().toSeq == Seq(6.0, 8.0, 6.0))
    // reductions are base-layer: assignable to a base column
    val b = NestedExpr.evalAssign(nf, "cmean = nested.c.mean()")
    assert(b.orderBy($"key").select($"cmean".cast("double")).as[Double]
      .collect().toSeq == Seq(20.0 / 9, 20.0 / 9, 20.0 / 9))
  }

  test("evalSelect element-layer returns an aligned array column") {
    val r = NestedExpr.evalSelect(nf, "a + nested.c", "v")
    val got = r.orderBy($"key").select($"v").as[Seq[Int]].collect().toSeq
    assert(got == Seq(Seq(1, 3, 5), Seq(3, 5, 6), Seq(4, 4, 7)))
  }

  test("len() and reductions usable inside an element-layer eval rhs") {
    val r = NestedExpr.evalAssign(nf,
      "nested.frac = nested.c / nested.c.sum()")
    val got = flat(r, "nested", "frac")
    // c.sum() is the GLOBAL series sum (20) since the r8 parity fix
    assert(got == Seq(0.0, 2 / 20.0, 4 / 20.0, 1 / 20.0, 3 / 20.0,
      4 / 20.0, 1 / 20.0, 1 / 20.0, 4 / 20.0))
    val l = NestedExpr.evalAssign(nf, "nested.ln = nested.c * nested.len()")
    assert(flat(l, "nested", "ln") ==
      Seq(0.0, 6, 12, 3, 9, 12, 3, 3, 12))
  }

  test("backticked targets and fields with special characters") {
    val b = Seq((0L, 1), (1L, 2), (2L, 3)).toDF("key", "dog")
    val c = Seq((0L, 0, 5), (0L, 2, 4), (1L, 1, 5), (2L, 4, 3))
      .toDF("key", "n/a", "n/b")
    val packed = b.joinNested(c, Seq("key"), "bad dog",
      sortBy = Seq(("n/a", true), ("n/b", true)))
    val r = NestedExpr.evalAssign(packed,
      "`bad dog`.`n/c` = `bad dog`.`n/b` + 2.5")
    assert(NestedOps.subColumns(r, "bad dog") == Seq("n/a", "n/b", "n/c"))
    val got = flat(r, "bad dog", "n/c")
    assert(got == Seq(7.5, 6.5, 7.5, 5.5))
  }

  test("packFlatCapped: cap + overflow semantics, sortBy picks the kept k") {
    val child = Seq(
      (1L, 30, "c"), (1L, 10, "a"), (1L, 20, "b"), (1L, 40, "d"),
      (2L, 5, "x")).toDF("key", "v", "tag")
    val (packed, overflow) =
      NestedOps.packFlatCapped(child, Seq("key"), "nested", maxPerKey = 2,
        sortBy = Seq(("v", true)))
    val cells = packed.orderBy("key")
      .select($"key", expr("transform(nested, e -> e.tag)"))
      .as[(Long, Seq[String])].collect().toSeq
    // kept = FIRST 2 in sortBy order; under-cap keys are untouched
    assert(cells == Seq((1L, Seq("a", "b")), (2L, Seq("x"))))
    val spilled = overflow.orderBy("v").select("key", "v", "tag")
      .as[(Long, Int, String)].collect().toSeq
    assert(spilled == Seq((1L, 30, "c"), (1L, 40, "d")))
    // no sortBy: cap still exact, kept ∪ overflow = child (no row lost)
    val (p2, o2) =
      NestedOps.packFlatCapped(child, Seq("key"), "nested", maxPerKey = 2)
    assert(p2.select(sum(size($"nested"))).as[Long].collect()(0) == 3L)
    assert(o2.count() == 2L &&
      o2.where($"key" === 1L).count() == 2L)
    intercept[IllegalArgumentException] {
      NestedOps.packFlatCapped(child, Seq("key"), "n", maxPerKey = 0)
    }
    // bounded-collect fast path ≡ window divert path on a unique sortBy
    // (same kept elements in the same array order)
    val fast = NestedOps.packFlat(child, Seq("key"), "nested",
        sortBy = Seq(("v", true)), maxPerKey = Some(2))
      .orderBy("key").select($"key", expr("transform(nested, e -> e.tag)"))
      .as[(Long, Seq[String])].collect().toSeq
    assert(fast == cells)
  }

  test("packFlat maxPerKey: bounded-collect plan (map-side partial top-k, " +
      "one Exchange) and a planted 20M-row hot key completes under a 1k cap") {
    // plan shape: cap-only packs through Spark's CollectTopK — an
    // ObjectHashAggregate with a PARTIAL (map-side) k-bounded heap, so
    // ≤ k rows per key per map task cross the one shuffle and nothing is
    // sorted; no rank window anywhere
    val small = Seq((1L, 1), (1L, 2), (2L, 3)).toDF("key", "v")
    val plan = NestedOps.packFlat(small, Seq("key"), "nested",
        sortBy = Seq(("v", true)), maxPerKey = Some(1))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_collect_top_k"), plan)
    assert(!plan.contains("Window"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    // the DIVERT form keeps the rank window; its kept branch must prune
    // beyond-k rows map-side via the WindowGroupLimit pushdown
    val divertPlan = NestedOps.packFlatCapped(small, Seq("key"), "nested",
        maxPerKey = 1, sortBy = Seq(("v", true)))._1
      .queryExecution.executedPlan.toString
    assert(divertPlan.contains("WindowGroupLimit"), divertPlan)
    // all-DESCENDING sort ("keep latest k") is eligible too: CollectTopK
    // with reverse flipped — same map-side-bounded plan, largest-k kept
    val descCap = NestedOps.packFlat(small, Seq("key"), "nested",
      sortBy = Seq(("v", false)), maxPerKey = Some(1))
    val descPlan = descCap.queryExecution.executedPlan.toString
    assert(descPlan.contains("partial_collect_top_k"), descPlan)
    assert(!descPlan.contains("Window"), descPlan)
    val descRows = descCap.orderBy("key")
      .select(expr("transform(nested, e -> e.v)"))
      .as[Seq[Int]].collect().toSeq
    assert(descRows == Seq(Seq(2), Seq(3)))
    // MIXED directions have no struct ordering — window fallback caps
    // correctly (v desc then tag asc ⇒ keep (2,"a"))
    val mixed = Seq((1L, 1, "a"), (1L, 2, "b"), (1L, 2, "a"))
      .toDF("key", "v", "tag")
    val mixedCap = NestedOps.packFlat(mixed, Seq("key"), "nested",
      sortBy = Seq(("v", false), ("tag", true)), maxPerKey = Some(1))
    assert(mixedCap.queryExecution.executedPlan.toString
      .contains("WindowGroupLimit"))
    assert(mixedCap.select(expr("transform(nested, e -> e.tag)"))
      .as[Seq[String]].collect().toSeq == Seq(Seq("a")))

    // the SkewProbe failure mode made enforceable: 20M child rows on ONE
    // key OOMs a plain pack's merge task at production payloads; with the
    // cap the packed cell is 1000 elements and the job completes fast
    // (map-side pruning ships ~k rows per map task, not 20M)
    val n = 20000000L
    val hot = spark.range(n).select(lit(0L).as("key"),
      col("id").cast("int").as("v"))
    val capped = NestedOps.packFlat(hot, Seq("key"), "nested",
      sortBy = Seq(("v", true)), maxPerKey = Some(1000))
    val row = capped.select($"key", size($"nested").as("sz"),
        expr("nested[999].v").as("last"))
      .as[(Long, Int, Int)].collect()
    assert(row.toSeq == Seq((0L, 1000, 999)))
  }
}
