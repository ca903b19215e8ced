package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.nested.NestedOps
import graft.nested.syntax._

/** Round-2 coverage queries: oracle checks for the SURVEY §2 rows that
  * previously rode on unit tests or "builtin" claims only (round-1 verdict:
  * every §2.x row must map to a green CORRECTNESS row).
  *
  * Same contract as [[Queries]]: flat result, columns aliased identically to
  * the DuckDB oracle, counts cast BIGINT, doubles rounded on both sides.
  */
object SurfaceQueries {

  import Queries.Q

  private def rd(s: SparkSession, dir: String, t: String): DataFrame =
    s.read.parquet(s"$dir/$t.parquet")

  private def lines(s: SparkSession, dir: String, cols: String*): DataFrame =
    rd(s, dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
      .select(("o_orderkey" +: cols).map(col): _*)

  /** Run two INDEPENDENT Spark actions concurrently and await BOTH before
    * returning or propagating (guide §2.6 overlap; ADVICE r13 hardening):
    *  - both futures are awaited even when the first fails, so no orphaned
    *    in-flight job can race a retry/overwrite of the same target;
    *  - the first failure propagates with the second one attached as
    *    suppressed, so neither cause is lost;
    *  - a dedicated 2-thread executor (threads created lazily from THIS
    *    call, so SparkContext's InheritableThreadLocal job-group/description
    *    properties are inherited from the caller) instead of the shared
    *    global ForkJoinPool, whose long-lived workers carry whatever
    *    properties the thread that first created them had. */
  private[graft] def awaitBoth[A, B](fa: => A, fb: => B): (A, B) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Try}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val f1 = Future(fa); val f2 = Future(fb)
      val r1 = Try(Await.result(f1, Duration.Inf))
      val r2 = Try(Await.result(f2, Duration.Inf))
      (r1, r2) match { // both quiesced
        case (Failure(e1), Failure(e2)) =>
          if (e1 ne e2) e1.addSuppressed(e2)
          throw e1
        case _ => (r1.get, r2.get)
      }
    } finally pool.shutdown()
  }

  /** Element type for the packSeq local constructor (top-level for TypeTag). */
  case class PSElem(x: Long, y: Double)

  // ---------------------------------------------------------------------------
  // §2.1 pack_seq — local-data constructor
  // ---------------------------------------------------------------------------

  /** packSeq: build a nested frame from local sequences incl. a NULL cell,
    * then reduce per row (reference `pack_seq`, series/packer.py:120-154). */
  val qPackSeq: Q = (s, _) => {
    val nf = NestedOps.packSeq(s, Seq(
      1L -> Some(Seq(PSElem(1, 1.5), PSElem(2, 2.5))),
      2L -> None,
      3L -> Some(Seq(PSElem(3, 0.5)))), "nested")
    nf.select(col("key"),
      size(col("nested")).cast("long").as("n"),
      round(NestedOps.elementSum("nested", "y"), 2).as("sum_y"))
  }

  // ---------------------------------------------------------------------------
  // §2.2 view_fields — nested-field projection
  // ---------------------------------------------------------------------------

  /** selectSubFields: project the nest to a 2-field view, then flatten-agg.
    * (reference `view_fields`, accessor.py:762-801). */
  val qViewFields: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_quantity", "l_extendedprice", "l_returnflag"),
      Seq("o_orderkey"), "items")
    packed.selectSubFields("items", Seq("l_quantity", "l_returnflag"))
      .toFlat("items")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  // ---------------------------------------------------------------------------
  // §2.2 schema introspection — all/nested/base/sub_columns as data
  // ---------------------------------------------------------------------------

  /** The introspection quartet surfaced as (kind, name) rows so the oracle can
    * pin the exact addressable-column surface (reference core.py:85-105). */
  val qSchemaCols: Q = (s, dir) => {
    import s.implicits._
    val nf = rd(s, dir, "orders").select("o_orderkey", "o_totalprice")
      .joinNested(lines(s, dir, "l_quantity", "l_returnflag"),
        Seq("o_orderkey"), "items", "inner")
    val rows =
      NestedOps.baseColumns(nf).map(("base", _)) ++
      NestedOps.nestedColumns(nf).map(("nested", _)) ++
      NestedOps.subColumns(nf, "items").map(("sub", _)) ++
      NestedOps.allColumns(nf).map(("all", _))
    rows.toDF("kind", "name")
  }

  // ---------------------------------------------------------------------------
  // §2.4 set_list_column / set_filled_column / scatter-by-mask
  // ---------------------------------------------------------------------------

  /** withNestedFieldFromList: a separate aligned list column becomes a new
    * field of each element (reference `set_list_column`). Doubled quantities
    * land element-by-element, so sum(qty2) == 2 * sum(qty). */
  val qSetListColumn: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_quantity"), Seq("o_orderkey"), "items")
      .withColumn("qty2",
        transform(col("items"), e => e.getField("l_quantity") * 2))
    NestedOps.withNestedFieldFromList(packed, "items", "qty2", "qty2")
      .select(col("o_orderkey").as("orderkey"),
        round(NestedOps.elementSum("items", "l_quantity"), 2).as("sum_qty"),
        round(NestedOps.elementSum("items", "qty2"), 2).as("sum_qty2"))
  }

  /** scatter-by-mask on a base column (when/otherwise — the reference's
    * `nf[mask] = value`) + set_filled_column on a nest (constant field). */
  val qScatterFill: Q = (s, dir) => {
    val masked = rd(s, dir, "orders")
      .withColumn("masked_total",
        when(col("o_orderstatus") === "F", lit(0.0))
          .otherwise(col("o_totalprice")))
      .agg(round(sum(col("masked_total")), 2).as("sum_masked"))
    val filled = NestedOps.withNestedFieldFilled(
        NestedOps.packFlat(lines(s, dir, "l_quantity"), Seq("o_orderkey"),
          "items"),
        "items", "one", lit(1.0))
      .select(explode(col("items")).as("e"))
      .agg(round(sum(col("e.one")), 2).as("n_filled"))
    masked.crossJoin(filled)
  }

  // ---------------------------------------------------------------------------
  // §2.4 drop (dotted nested sub-column)
  // ---------------------------------------------------------------------------

  /** dropColumns with a dotted name removes one field from the nest; the
    * surviving fields still aggregate correctly (reference core.py:745-858). */
  val qDropFields: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_quantity", "l_extendedprice", "l_returnflag"),
      Seq("o_orderkey"), "items")
    val dropped = NestedOps.dropColumns(packed, Seq("items.l_extendedprice"))
    require(NestedOps.subColumns(dropped, "items") ==
      Seq("l_quantity", "l_returnflag"))
    dropped.toFlat("items")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  // ---------------------------------------------------------------------------
  // §2.4 concat + take
  // ---------------------------------------------------------------------------

  /** concat (unionAll, duplicates kept) then take (total-ordered limit) —
    * the reference's pd.concat / head inherited surface. */
  val qConcatTake: Q = (s, dir) => {
    val orders = rd(s, dir, "orders")
    val hi = orders.where(col("o_totalprice") > 200000.0)
    val lo = orders.where(col("o_totalprice") <= 1000.0)
    NestedOps.sortValues(hi.unionAll(lo),
        Seq(("o_totalprice", true), ("o_orderkey", true)))
      .limit(15)
      .select(col("o_orderkey").as("orderkey"),
        round(col("o_totalprice"), 2).as("totalprice"))
  }

  // ---------------------------------------------------------------------------
  // §2.7 sort_values base dispatch
  // ---------------------------------------------------------------------------

  /** sortValues with base-column keys → row sort (desc + tiebreak), head 10. */
  val qSortBase: Q = (s, dir) => {
    NestedOps.sortValues(rd(s, dir, "orders"),
        Seq(("o_totalprice", false), ("o_orderkey", true)))
      .limit(10)
      .select(col("o_orderkey").as("orderkey"),
        round(col("o_totalprice"), 2).as("totalprice"))
  }

  // ---------------------------------------------------------------------------
  // §2.3 row-level cell isna / dropna
  // ---------------------------------------------------------------------------

  /** NULL-cell handling at ROW level: left join_nested gives childless rows a
    * NULL cell (≠ empty array); isna/dropna count and remove them. */
  val qCellDropna: Q = (s, dir) => {
    val nf = rd(s, dir, "orders")
      .joinNested(lines(s, dir, "l_quantity"), Seq("o_orderkey"), "items",
        "left")
    nf.agg(
      count(lit(1)).as("n_orders"),
      sum(when(col("items").isNull, 1L).otherwise(0L)).as("n_childless"),
      sum(when(col("items").isNotNull, 1L).otherwise(0L)).as("n_after_drop"))
  }

  // ---------------------------------------------------------------------------
  // §2.10 apply over a nested series (typed Dataset.map)
  // ---------------------------------------------------------------------------

  /** apply: arbitrary JVM lambda over each row's element sequence. */
  val qApply: Q = (s, dir) => {
    import s.implicits._
    NestedOps.packFlat(lines(s, dir, "l_quantity"), Seq("o_orderkey"), "items")
      .select(col("o_orderkey"),
        transform(col("items"), e => e.getField("l_quantity")).as("qs"))
      .as[(Long, Seq[Double])]
      .map { case (k, qs) => (k, qs.count(_ > 25.0).toLong) }
      .toDF("orderkey", "n_big")
  }

  // ---------------------------------------------------------------------------
  // §2.1 generate_data — structural oracle
  // ---------------------------------------------------------------------------

  /** generateData invariants as data: row/element counts exact, every band in
    * {r, g}, a ∈ [0, 1), b ∈ [0, 2) (generator is seeded-hash deterministic,
    * not SQL-reproducible — the oracle pins the structural contract). */
  val qGenerate: Q = (s, _) => {
    val g = graft.sources.NestedParquet.generateData(s, nBase = 200, nLayer = 5)
    g.agg(
      count(lit(1)).as("n_rows"),
      sum(size(col("nested"))).cast("long").as("n_elems"),
      sum(size(filter(col("nested"), e =>
        !e.getField("band").isin("r", "g")))).cast("long").as("n_bad_band"),
      sum(when(col("a") >= 0.0 && col("a") < 1.0 &&
               col("b") >= 0.0 && col("b") < 2.0, 0L).otherwise(1L))
        .as("n_out_of_range"))
  }

  // ---------------------------------------------------------------------------
  // §2.11 partial nested read + glob/directory read
  // ---------------------------------------------------------------------------

  /** read_parquet(columns=["items.l_quantity"]): write a nested file, read it
    * back with a pruned nest (SchemaPruning reaches the scan), flatten-agg. */
  val qPartialRead: Q = (s, dir) => {
    val path = "/tmp/graft_partial_read"
    NestedOps.packFlat(
        lines(s, dir, "l_quantity", "l_extendedprice", "l_returnflag"),
        Seq("o_orderkey"), "items")
      .write.mode("overwrite").parquet(path)
    val pruned = graft.sources.NestedParquet.selectColumns(
      s.read.parquet(path), Seq("o_orderkey", "items.l_quantity"))
    pruned.toFlat("items", baseCols = Seq("o_orderkey"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  /** Directory + glob reads (the remote-fs surface over file://): two parquet
    * directories under one root, read back with a `*` glob in one scan. */
  val qReadGlob: Q = (s, dir) => {
    val root = "/tmp/graft_glob_read"
    val li = lines(s, dir, "l_quantity", "l_linestatus")
    // the two fixture writes are independent jobs into separate dirs —
    // submit both before awaiting either (each is a small 1-stage scan;
    // overlapped, the pair costs ~the slower one)
    awaitBoth(
      li.where(col("l_linestatus") === "O")
        .write.mode("overwrite").parquet(s"$root/open"),
      li.where(col("l_linestatus") =!= "O")
        .write.mode("overwrite").parquet(s"$root/rest"))
    s.read.parquet(s"$root/*")
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  /** Mixed-struct partial loading end-to-end (reference io
    * test_io.py:138-226 semantics, driver-gated): write documents as two
    * struct columns — one mixed (scalar + list field), one all-list —
    * then partial-load both ways through [[NestedParquet.selectColumns]]:
    * all-list leaves re-nest under the prefix; a scalar leaf pops every
    * requested leaf to flat leaf-named columns. The oracle recomputes the
    * same quantities straight from the source table (the /tmp fixture is
    * derived deterministically, like q_read_glob). */
  // One fixture dir per JVM, deleted at exit: concurrent battery/verify
  // PROCESSES still can't race (each gets its own dir), but repeated
  // invocations within one process (warm-up pass + two timed passes)
  // reuse it instead of leaking a /tmp directory per call.
  private lazy val mixedReadRoot: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_mixed_read")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        import java.nio.file._
        import scala.jdk.CollectionConverters._
        Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => Files.deleteIfExists(f))
      } catch { case _: Throwable => () }))
    p.toString
  }

  val qMixedRead: Q = (s, dir) => {
    import graft.sources.NestedParquet
    val root = mixedReadRoot
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        struct(col("lang").as("val1"),
          split(col("text"), " ").as("toks")).as("mix"),
        struct(split(col("text"), " ").as("toks"),
          split(col("source"), "-").as("chunks")).as("lists"))
      .write.mode("overwrite").parquet(root)
    val raw = s.read.parquet(root)
    // all-list leaves re-nest: "lists" comes back a one-field nest
    val nested = NestedParquet.selectColumns(raw, Seq("doc_id", "lists.toks"))
    // a scalar leaf rejects the cast: flat leaf-named columns
    val flat = NestedParquet.selectColumns(raw,
      Seq("doc_id", "mix.toks", "mix.val1"))
    nested.join(flat, Seq("doc_id"))
      .select(col("doc_id"),
        size(col("lists")).cast("long").as("n_tok"),
        size(col("toks")).cast("long").as("n_tok_flat"),
        col("val1").as("lang"))
  }

  // ---------------------------------------------------------------------------
  // §2.4 cross-nest + multiline eval assignment
  // ---------------------------------------------------------------------------

  /** Multiline eval building a NEW nest from one nest, then assigning across
    * TWO nests + a base column (flat-index aligned) — the reference's
    * trickiest eval semantics (test_nestedframe.py:2498-2530). */
  val qEvalCross: Q = (s, dir) => {
    val nf = rd(s, dir, "orders").select("o_orderkey", "o_totalprice")
      .joinNested(lines(s, dir, "l_extendedprice", "l_discount"),
        Seq("o_orderkey"), "items", "inner")
    val r = graft.nested.NestedExpr.eval(nf,
      """p2.c2 = items.l_extendedprice * 2
        |p2.d = p2.c2 + items.l_discount * 100 + o_totalprice""".stripMargin)
    r.select(col("o_orderkey").as("orderkey"),
      round(NestedOps.elementSum("p2", "d"), 2).as("sum_d"))
  }

  // ---------------------------------------------------------------------------
  // §2.10 map_rows infer_nesting
  // ---------------------------------------------------------------------------

  /** mapRows with dotted output names repacked into a NEW nest
    * (reference `infer_nesting`, core.py:2511-2531): per-order kernel emits
    * two aligned arrays (2×qty and qty−min), zipped into `norm`, reduced. */
  val qMapRowsNested: Q = (s, dir) => {
    import org.apache.spark.sql.types._
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_quantity"), Seq("o_orderkey"), "items")
    val out = graft.nested.MapRows.mapRows(packed,
      Seq("o_orderkey", "items.l_quantity"),
      StructType(Seq(
        StructField("orderkey", LongType),
        StructField("norm.q2", ArrayType(DoubleType)),
        StructField("norm.r", ArrayType(DoubleType)))),
      inferNesting = true) { case Seq(k, qs) =>
      val q = qs.asInstanceOf[Seq[Double]]
      Seq(k, q.map(_ * 2), q.map(_ - q.min))
    }
    out.select(col("orderkey"),
      round(NestedOps.elementSum("norm", "q2"), 2).as("sum_q2"),
      round(NestedOps.elementSum("norm", "r"), 2).as("sum_r"))
  }

  // ---------------------------------------------------------------------------
  // §2.6 describe / min-max option parity; §2.3 dropna how/thresh
  // ---------------------------------------------------------------------------

  /** describe with CUSTOM percentiles (10%/90%) over base + nested numeric
    * columns in one pass per layer (reference `percentiles=`). */
  val qDescribePct: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_quantity"), Seq("o_orderkey"), "items")
      .withColumn("n_items", size(col("items")).cast("double"))
      .drop("o_orderkey")
    NestedOps.describeAll(packed, percentiles = Seq(0.1, 0.9),
      exactRowLimit = Long.MaxValue) // oracle pins exact (guard off)
      .select(col("column"), col("stat"),
        round(col("value") + lit(1e-9), 4).as("value"))
  }

  /** Non-numeric describe: count/unique/top/freq for a base string column
    * and a nested string field (reference `describe(include='all')`). */
  val qDescribeStr: Q = (s, dir) => {
    val nf = rd(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      .joinNested(lines(s, dir, "l_returnflag"), Seq("o_orderkey"), "items",
        "inner")
    NestedOps.describeNonNumeric(nf)
      .select(col("column"), col("cnt"), col("n_unique"), col("top"),
        col("top_freq"))
  }

  /** describe with the reference's `include=` dtype filter: only DOUBLE
    * columns participate (the BIGINT base key and nested linenumber are
    * filtered out), across both layers in one pass each
    * (reference core.py:1099-1219 include/exclude). */
  val qDescribeIncl: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_quantity", "l_linenumber"), Seq("o_orderkey"), "items")
      .withColumn("n_items", size(col("items")).cast("double"))
    NestedOps.describeAll(packed, include = Some(Seq("double")),
      exactRowLimit = Long.MaxValue) // oracle pins exact (guard off)
      .select(col("column"), col("stat"),
        round(col("value") + lit(1e-9), 4).as("value"))
  }

  /** sort_values with pandas `na_position="last"` on an ASCENDING key —
    * the engine default puts nulls FIRST ascending, so the null rows this
    * query synthesizes would otherwise head the result. Total order via the
    * key tie-break. */
  val qSortNapos: Q = (s, dir) => {
    val withNulls = rd(s, dir, "orders")
      .withColumn("np",
        when(col("o_orderkey") % 7 === 0, lit(null).cast("double"))
          .otherwise(col("o_totalprice")))
    NestedOps.sortValues(withNulls,
        Seq(("np", true), ("o_orderkey", true)), naPosition = Some("last"))
      .limit(10)
      .select(col("o_orderkey"), round(col("np"), 2).as("np"))
  }

  /** set_flat_column from an EXTERNAL flat frame (one row per element):
    * values are joined back by (key, element ordinal) and set positionally
    * without exploding the nest (reference accessor.py:236-491 flat-series
    * form). The oracle checks the end-to-end per-key reduction. */
  val qSetFlatFrom: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_quantity", "l_linenumber"), Seq("o_orderkey"), "items")
    val flat = packed.select(col("o_orderkey"),
        posexplode(col("items")).as(Seq("idx", "e")))
      .select(col("o_orderkey"), col("idx"),
        (col("e.l_quantity") * 2).as("value"))
    NestedOps.setFlatColumnFrom(packed, "items", "qty2", flat,
        Seq("o_orderkey"))
      .select(col("o_orderkey"),
        size(col("items")).cast("long").as("n"),
        round(NestedOps.elementSum("items", "qty2") + lit(1e-9), 2)
          .as("sum_q2"))
  }

  /** min/max with the reference's flags: strings minimize lexicographically
    * by default; numericOnly drops them; excludeNest keeps base only. */
  val qMinMaxFlags: Q = (s, dir) => {
    val nf = rd(s, dir, "orders").select("o_orderkey", "o_orderpriority")
      .joinNested(lines(s, dir, "l_quantity", "l_returnflag"),
        Seq("o_orderkey"), "items", "inner")
    val full = NestedOps.aggAllColumns(nf.drop("o_orderkey"), "min")
      .select(col("o_orderpriority").as("min_priority"),
        col("`items.l_quantity`").cast("double").as("min_qty"),
        col("`items.l_returnflag`").as("min_flag"))
    val baseOnly = NestedOps.aggAllColumns(nf, "max", excludeNest = true)
      .select(col("o_orderkey").cast("long").as("max_key"))
    full.crossJoin(baseOnly)
  }

  /** dropna how=all / thresh over nested elements: nulls synthesized in two
    * fields, then element counts after each policy. */
  val qDropnaOpts: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_quantity", "l_discount"), Seq("o_orderkey"), "items")
      .withNestedField("items", "d1",
        e => when(e.getField("l_discount") < 0.03, lit(null))
          .otherwise(e.getField("l_discount")))
      .withNestedField("items", "d2",
        e => when(e.getField("l_quantity") > 40.0, lit(null))
          .otherwise(e.getField("l_quantity")))
    val anyN = NestedOps.dropNaElements(packed, "items", Seq("d1", "d2"))
    val allN = NestedOps.dropNaElements(packed, "items", Seq("d1", "d2"),
      how = "all")
    val th1 = NestedOps.dropNaElements(packed, "items", Seq("d1", "d2"),
      thresh = Some(1))
    anyN.agg(sum(size(col("items"))).cast("long").as("n_any"))
      .crossJoin(allN.agg(sum(size(col("items"))).cast("long").as("n_all")))
      .crossJoin(th1.agg(sum(size(col("items"))).cast("long").as("n_thresh1")))
  }

  // ---------------------------------------------------------------------------
  // §2.9 eval reductions (non-assignment eval)
  // ---------------------------------------------------------------------------

  /** The reference's Series-returning eval with element reductions
    * (`nest.f.median()` etc., test_nestedframe.py:2440-2446) — all narrow
    * array expressions, no explode/shuffle. */
  val qEvalReduce: Q = (s, dir) => {
    // PER-CELL reductions via the programmatic elementReduction columns
    // (r8: the dialect's `items.l_quantity.median()` spelling now means
    // the pandas-eval GLOBAL median — reference parity — so the per-row
    // form this query pins moved to the engine-extension API)
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_quantity"), Seq("o_orderkey"), "items")
    val e = graft.nested.NestedExpr
    val r = packed
      .withColumn("med", e.elementReduction("items", "l_quantity", "median"))
      .withColumn("mn", e.elementReduction("items", "l_quantity", "mean"))
      .withColumn("sd", e.elementReduction("items", "l_quantity", "std"))
    r.select(col("o_orderkey").as("orderkey"),
      round(col("med") + lit(1e-9), 4).as("med"),
      round(col("mn") + lit(1e-9), 4).as("mn"),
      round(col("sd") + lit(1e-9), 4).as("sd"))
  }

  // ---------------------------------------------------------------------------
  // §2.12 streaming surface, batch-checked
  // ---------------------------------------------------------------------------

  /** sessionizeEventTime on a BATCH frame: Spark's session_window gives the
    * same event-time sessions in batch and streaming, so the streaming
    * operator's semantics are oracle-checkable here (gaps-and-islands in
    * DuckDB). events.ts normalized to a ns epoch long by
    * [[Queries.rdEvents]] across the driver's parquet encodings. */
  val qSessionWindow: Q = (s, dir) => {
    val ev = Queries.rdEvents(s, dir)
      .withColumn("ets", expr("timestamp_micros(ts DIV 1000)"))
    graft.streaming.StreamingOps.sessionizeEventTime(
        ev, "user_id", "ets", gap = "30 minutes", watermark = "0 seconds")
      .select(col("user_id"),
        expr("unix_millis(session_start)").as("start_ms"),
        expr("unix_millis(session_end)").as("end_ms"),
        col("n_events"))
  }

  // ---------------------------------------------------------------------------
  // flagship end-to-end chain (the reference's performance.ipynb workflow)
  // ---------------------------------------------------------------------------

  /** The whole reference workflow in ONE oracle-checked query: join_nested →
    * element-level query dialect → count_nested pivot → per-row element mean
    * → row filter. One pack shuffle; everything after is narrow. */
  /** InheritedOps.valueCounts through the oracle gate — canonical
    * (count desc, keys asc) order pinned as an explicit rank column. */
  val qValueCounts: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val vc = graft.operators.InheritedOps.valueCounts(
      lines(s, dir, "l_returnflag", "l_linestatus"),
      Seq("l_returnflag", "l_linestatus"))
    vc.withColumn("rk", row_number().over(Window.orderBy(
        col("count").desc, col("l_returnflag").asc_nulls_last,
        col("l_linestatus").asc_nulls_last)).cast("long"))
      .withColumnRenamed("count", "cnt")
  }

  /** InheritedOps.shiftRows (pandas shift) per status group — the
    * per-key lag-feature shape, keyed windows only. */
  val qShiftLag: Q = (s, dir) => {
    val o = rd(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    graft.operators.InheritedOps.shiftRows(o, 1, "o_orderkey",
        Seq("o_orderstatus"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").as("prev_price"))
  }

  /** InheritedOps.fillDirectional (pandas ffill) per status group over a
    * deterministically-nulled price column. */
  val qFfill: Q = (s, dir) => {
    val o = rd(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      when(pmod(col("o_orderkey"), lit(7)) < 2, lit(null))
        .otherwise(col("o_totalprice")).as("p"))
    graft.operators.InheritedOps.fillDirectional(o, forward = true,
        "o_orderkey", Seq("o_orderstatus"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("p").as("p_filled"))
  }

  /** InheritedOps.rollingAgg (pandas rolling(4, min_periods=2).mean())
    * per status group over a deterministically-nulled price — exercises
    * the non-NA min_periods gate through the oracle. Keyed windows
    * only; one hash shuffle at any scale. */
  val qRolling: Q = (s, dir) => {
    val o = rd(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      when(pmod(col("o_orderkey"), lit(5)) === 3, lit(null))
        .otherwise(col("o_totalprice")).as("p"))
    graft.operators.InheritedOps.rollingAgg(o, "p", "mean",
        window = 4, minPeriods = Some(2), orderCol = "o_orderkey",
        partitionBy = Seq("o_orderstatus"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("rolled") + lit(1e-9), 4).as("roll_mean"))
  }

  /** InheritedOps.interpolateLinear (pandas interpolate, linear by
    * position) per status group over a deterministically-nulled price:
    * leading missing stays missing, interior gaps fill linearly,
    * trailing missing carries the last value. */
  val qInterp: Q = (s, dir) => {
    val o = rd(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      when(pmod(col("o_orderkey"), lit(7)) < 2, lit(null))
        .otherwise(col("o_totalprice")).as("p"))
    graft.operators.InheritedOps.interpolateLinear(o, "p",
        "o_orderkey", Seq("o_orderstatus"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("p") + lit(1e-9), 4).as("p_interp"))
  }

  /** InheritedOps.cutBins (pandas cut with explicit edges,
    * labels=False): right-closed quantity bins — edge values (10, 25,
    * 50) are live data points, so the (lo, hi] boundary rule is what's
    * being hashed. Binning is a codegen'd projection; one group-by. */
  val qCut: Q = (s, dir) =>
    lines(s, dir, "l_quantity")
      .withColumn("bin", graft.operators.InheritedOps.cutBins(
        col("l_quantity"), Seq(0.0, 10.0, 25.0, 50.0)))
      .groupBy("bin")
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("l_quantity")), 2).as("qty"))

  /** InheritedOps.qcutBins (pandas qcut, labels=False) on an integer
    * key at q=4: quartile positions are dyadic and the data integral,
    * so the exact-percentile edges are bit-identical on both engines
    * (the interpolated-quantile parity itself is pinned by the
    * tranche-7 quantile fuzz family). One percentile aggregate + one
    * binning projection + one group-by. */
  val qQcut: Q = (s, dir) =>
    graft.operators.InheritedOps.qcutBins(
        rd(s, dir, "orders").select("o_custkey"), "o_custkey", 4)
      .groupBy("bin")
      .agg(count(lit(1)).as("cnt"),
        min(col("o_custkey")).cast("long").as("lo"),
        max(col("o_custkey")).cast("long").as("hi"))

  /** InheritedOps column stats (pandas idxmax/idxmin/nunique/quantile/
    * mode) in one row — five 1-row aggregates cross-joined (broadcast,
    * the adjudicated 1-row pattern). idxmax ties resolve to the FIRST
    * occurrence in key order on both engines; mode emits ALL modal
    * values sorted, joined to one string. */
  val qColStats: Q = (s, dir) => {
    val o = rd(s, dir, "orders").select("o_orderkey", "o_custkey",
      "o_totalprice", "o_orderpriority")
    val iMax = graft.operators.InheritedOps.idxExtreme(o,
      "o_totalprice", "o_orderkey").select(col("idx").as("idx_max"))
    val iMin = graft.operators.InheritedOps.idxExtreme(o,
      "o_totalprice", "o_orderkey", smallest = true)
      .select(col("idx").as("idx_min"))
    val nu = graft.operators.InheritedOps.nUnique(o, "o_custkey")
      .select(col("n").as("n_uniq"))
    val q25 = graft.operators.InheritedOps.quantileLinear(o,
        "o_totalprice", 0.25)
      .select(round(col("q") + lit(1e-9), 4).as("q25"))
    val md = graft.operators.InheritedOps.modeValues(o, "o_orderpriority")
      .agg(concat_ws(",",
        sort_array(collect_list(col("o_orderpriority")))).as("mode"))
    val sk = graft.operators.InheritedOps.momentStat(o, "o_totalprice",
      "skew").select(round(col("stat") + lit(1e-9), 6).as("skew"))
    val ku = graft.operators.InheritedOps.momentStat(o, "o_totalprice",
      "kurt").select(round(col("stat") + lit(1e-9), 6).as("kurt"))
    val se = graft.operators.InheritedOps.momentStat(o, "o_totalprice",
      "sem").select(round(col("stat") + lit(1e-9), 4).as("sem"))
    iMax.crossJoin(iMin).crossJoin(nu).crossJoin(q25).crossJoin(md)
      .crossJoin(sk).crossJoin(ku).crossJoin(se)
  }

  /** InheritedOps.clipValues + pctChange (pandas clip / pct_change)
    * per status group — clip is a codegen'd projection, pct_change one
    * keyed lag window. */
  val qClipPct: Q = (s, dir) => {
    val o = rd(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    graft.operators.InheritedOps.pctChange(o, "o_totalprice", 1,
        "o_orderkey", Seq("o_orderstatus"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(graft.operators.InheritedOps.clipValues(
          col("o_totalprice"), Some(lit(5000.0)), Some(lit(150000.0))),
          2).as("clip_price"),
        round(col("pct_change") + lit(1e-9), 6).as("pct"))
  }

  /** InheritedOps.crosstabCounts (pandas crosstab with margins): the
    * return-flag × line-status count matrix plus the All row/column —
    * one grouped pivot shuffle plus a 1-row margin aggregate. */
  val qCrosstab: Q = (s, dir) =>
    graft.operators.InheritedOps.crosstabCounts(
      lines(s, dir, "l_returnflag", "l_linestatus"),
      "l_returnflag", "l_linestatus", margins = true)

  /** InheritedOps.factorizeCodes (pandas factorize): first-appearance
    * codes for order priority along the order key — one domain
    * aggregate + one broadcast join back, no global data window. */
  val qFactorize: Q = (s, dir) =>
    graft.operators.InheritedOps.factorizeCodes(
        rd(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        "o_orderpriority", "o_orderkey")
      .select(col("o_orderkey"), col("code"))

  /** InheritedOps.ewmMean (pandas ewm(alpha=0.3).mean()) per status
    * group over the first 400 orders of each group (the oracle mirror
    * is a recursive CTE advancing one row per iteration, so the rank
    * cap bounds its depth at every SF — a ≤400-row oracle artifact,
    * like the documented rank stamps). Library side: one hash
    * repartition + in-partition sort + streaming mapPartitions. */
  val qEwm: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val o = rd(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val capped = o.withColumn("__rn", row_number().over(
        Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_orderkey"))))
      .where(col("__rn") <= 400).drop("__rn")
    graft.operators.InheritedOps.ewmMean(capped, "o_totalprice", 0.3,
        "o_orderkey", Seq("o_orderstatus"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("ewm") + lit(1e-9), 4).as("ewm"))
  }

  /** InheritedOps.ewmVar std=true (pandas ewm(span=10).std()) per
    * status group over the first 400 orders of each group — the same
    * rank-capped recursive-CTE oracle artifact as [[qEwm]]; the CTE
    * tracks the weighted sums S1/S2 and weight sums W1/W2 whose closed
    * form equals the pandas ewmcov recursion, with the
    * W1²/(W1²−W2) debias and the zsqrt guard. span converts through
    * the center-of-mass chain on both sides (1/(1+(span−1)/2) — the
    * same IEEE ops constant-fold in DuckDB). */
  val qEwmVar: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val o = rd(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val capped = o.withColumn("__rn", row_number().over(
        Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_orderkey"))))
      .where(col("__rn") <= 400).drop("__rn")
    graft.operators.InheritedOps.ewmVar(capped, "o_totalprice",
        graft.operators.InheritedOps.ewmAlphaFromSpan(10.0),
        "o_orderkey", Seq("o_orderstatus"), std = true)
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("ewm") + lit(1e-9), 4).as("ewm_std"))
  }

  /** InheritedOps.ewmCov corr=true (pandas ewm(alpha=0.2).corr(other))
    * per status group over the first 400 orders of each group — the
    * same rank-capped recursive-CTE oracle artifact as [[qEwm]]. With
    * both inputs complete (orders has no missing price/custkey) and
    * adjust=true, the three bias=True kernel instances reduce to
    * weighted moments: the CTE tracks Sx/Sy/Sxy/Sxx/Syy/W1 and the
    * closed form (Sxy/W1 − mx·my)/√((Sxx/W1 − mx²)(Syy/W1 − my²))
    * equals the kernel recursion; the first row of each group reads
    * missing on both engines (0/0 variance). */
  val qEwmCov: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val o = rd(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_custkey").cast("double").as("__y"))
    val capped = o.withColumn("__rn", row_number().over(
        Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_orderkey"))))
      .where(col("__rn") <= 400).drop("__rn")
    graft.operators.InheritedOps.ewmCov(capped, "o_totalprice", "__y",
        0.2, "o_orderkey", Seq("o_orderstatus"), corr = true)
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("ewm") + lit(1e-9), 5).as("ewm_corr"))
  }

  /** InheritedOps.rollingTimeAgg (pandas rolling("1h") on the event
    * stream, per user): closed='both' so the frame is exactly DuckDB's
    * RANGE INTERVAL 1 HOUR PRECEDING — (user_id, ts) is duplicate-free
    * at every SF (probed 2026-08-16), so the position-truncation
    * subtlety the fuzz family pins never fires here. One keyed
    * repartition + in-partition sort + streaming deque pass. */
  val qRollingTime: Q = (s, dir) => {
    // events.ts reads as TIMESTAMP_NTZ (µs parquet); the op's
    // cast("timestamp") is instant-preserving under the UTC session tz
    val e = rd(s, dir, "events")
      .select("event_id", "user_id", "ts", "value")
    graft.operators.InheritedOps.rollingTimeAgg(e, "value", "mean",
        3600L * 1000000L, "ts", "event_id", minPeriods = 2,
        partitionBy = Seq("user_id"), closed = "both")
      .select(col("event_id"),
        round(col("rolled") + lit(1e-9), 6).as("roll_mean"))
  }

  /** InheritedOps.resampleAgg (pandas resample('1h').mean() over the
    * event stream): left-closed hourly bins anchored at midnight of
    * the first day, EMPTY bins emitted as missing means. The bin axis
    * generates distributed (spark.range), the per-bin aggregate is one
    * keyed shuffle, empties arrive by left join. */
  val qResample: Q = (s, dir) => {
    val e = rd(s, dir, "events")
    graft.operators.InheritedOps.resampleAgg(e, "ts",
        3600L * 1000000L, "mean", "value")
      .select(expr("unix_millis(bin)").as("bin_ms"), // dtype-stable label
        round(col("agg") + lit(1e-9), 6).as("v_mean"))
  }

  /** InheritedOps.stackFrame (pandas stack(): row-major melt, missing
    * cells drop): two numeric order columns fold to (variable, value)
    * rows, mixed int/double unifying to double. Per-row generator
    * expansion, no shuffle. */
  val qStack: Q = (s, dir) => {
    val o = rd(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    graft.operators.InheritedOps.stackFrame(o, Seq("o_orderkey"),
        Seq("o_custkey", "o_totalprice"))
      .select(col("o_orderkey"), col("variable"),
        round(col("value"), 2).as("value"))
  }

  /** InheritedOps.unstackFrame (pandas Series.unstack() on a two-level
    * key): the order-status columns of each order key — unique pairs
    * by construction, exercising the in-aggregate duplicate raise
    * guard's happy path. One grouped pivot shuffle. */
  val qUnstack: Q = (s, dir) => {
    val o = rd(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    graft.operators.InheritedOps.unstackFrame(o, "o_orderkey",
        "o_orderstatus", "o_totalprice")
      .select(col("o_orderkey"),
        round(col("F"), 2).as("F"),
        round(col("O"), 2).as("O"),
        round(col("P"), 2).as("P"))
  }

  /** InheritedOps.corrCov (pandas Series.corr/cov — pairwise-complete
    * sample statistics): two 1-row aggregates cross-joined (broadcast,
    * the adjudicated 1-row pattern). */
  val qCorr: Q = (s, dir) => {
    val l = lines(s, dir, "l_quantity", "l_extendedprice")
    val c1 = graft.operators.InheritedOps.corrCov(l, "l_quantity",
      "l_extendedprice", "corr")
      .select(round(col("stat") + lit(1e-9), 6).as("corr"))
    val c2 = graft.operators.InheritedOps.corrCov(l, "l_quantity",
      "l_extendedprice", "cov")
      .select(round(col("stat") + lit(1e-9), 2).as("cov"))
    c1.crossJoin(c2)
  }

  val qFlagship: Q = (s, dir) => {
    val nf = rd(s, dir, "orders").select("o_orderkey", "o_totalprice")
      .joinNested(lines(s, dir, "l_quantity", "l_extendedprice",
        "l_returnflag"), Seq("o_orderkey"), "items", "inner")
    val filtered = graft.nested.NestedExpr.query(nf,
      "items.l_quantity > 10.0")
    val counted = NestedOps.countNested(filtered, "items",
      Some("l_returnflag"), Seq("R", "A", "N"))
    counted.where(col("n_items_R") > 0)
      .select(col("o_orderkey").as("orderkey"),
        round(col("o_totalprice"), 2).as("totalprice"),
        col("n_items_R").cast("long").as("n_r"),
        col("n_items_A").cast("long").as("n_a"),
        col("n_items_N").cast("long").as("n_n"),
        round(NestedOps.elementMean("items", "l_extendedprice")
          + lit(1e-9), 2).as("mean_price"))
  }

  // ---------------------------------------------------------------------------
  // r9: driver-gated queries for the round-8 operators (zipNests, takeRows,
  // describeAll(approx=true)) — SURVEY's bar is a green CORRECTNESS row per
  // operator, not spec-only coverage.
  // ---------------------------------------------------------------------------

  /** zipNests (multi-nest combine, reference test_set_item_combine_nested):
    * two single-field nests derived from ONE pack (element-aligned by
    * construction) merged into one nest, then a per-row fold over the
    * merged elements — the oracle replays sum(q·p) per order straight from
    * the flat child. Per-order groups are tiny (≤7 elements) so the fold's
    * FP order is benign at 2-decimal rounding. */
  val qZipNests: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_quantity", "l_extendedprice"), Seq("o_orderkey"),
      "items")
    val twoNests = packed
      .withColumn("qs",
        expr("transform(items, x -> named_struct('q', x.l_quantity))"))
      .withColumn("ps",
        expr("transform(items, x -> named_struct('p', x.l_extendedprice))"))
      .drop("items")
    NestedOps.zipNests(twoNests, Seq("qs", "ps"), "combined")
      .select(col("o_orderkey"),
        round(expr("aggregate(combined, cast(0.0 as double), " +
          "(a, x) -> a + x.q * x.p)") + lit(1e-9), 2).as("dot"))
  }

  /** takeRows (pandas ExtensionArray.take semantics): positional take with
    * duplicate and python-negative indices; the oracle resolves the same
    * positions over a row_number frame. The hash compare is row-sorted, so
    * the duplicated position contributes multiset-correctly. The global
    * row_number window is the correctness ARTIFACT here, not the operator
    * (takes are small driver-side reorderings by contract). */
  val qTake: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val posed = rd(s, dir, "orders").select("o_orderkey", "o_totalprice")
      .withColumn("pos",
        row_number().over(Window.orderBy("o_orderkey")).cast("long") - 1)
    NestedOps.takeRows(posed, "pos", Seq(2L, 0L, 7L, 7L, -1L, -3L))
      .select(col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
  }

  /** InheritedOps.meltFrame (pandas melt): unpivot two numeric order
    * columns into variable/value rows — mixed int/double value set
    * unifies to double, like pandas' single object column. One per-row
    * generator expansion, no shuffle. */
  val qMelt: Q = (s, dir) => {
    val o = rd(s, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_custkey")
    graft.operators.InheritedOps.meltFrame(o, Seq("o_orderkey"),
      Seq("o_totalprice", "o_custkey"))
  }

  /** InheritedOps.pivotTable (pandas pivot_table): quantity sums by
    * return flag × line status — one grouped pivot shuffle; the oracle
    * replays the wide layout with the same column names. */
  val qPivot: Q = (s, dir) =>
    graft.operators.InheritedOps.pivotTable(
      lines(s, dir, "l_returnflag", "l_linestatus", "l_quantity"),
      index = "l_returnflag", columns = "l_linestatus",
      values = "l_quantity", aggfunc = "sum")

  /** InheritedOps.rankRows (pandas Series.rank, method='average',
    * descending) per status group — keyed windows only; the average
    * tie rank is integer-derived (rank + (tie_count-1)/2), so the
    * oracle replays it exactly. */
  val qRank: Q = (s, dir) => {
    val o = rd(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    graft.operators.InheritedOps.rankRows(o, "o_totalprice",
        method = "average", ascending = false, tieCol = "o_orderkey",
        partitionBy = Seq("o_orderstatus"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("rank"))
  }

  /** InheritedOps.cumulative (pandas cumsum over an exact int column)
    * + diffRows (pandas diff on price) per status group — prefix and
    * lag windows, keyed only. */
  val qCumDiff: Q = (s, dir) => {
    val o = rd(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_custkey", "o_totalprice")
    val c1 = graft.operators.InheritedOps.cumulative(o, "o_custkey",
      "cumsum", "o_orderkey", Seq("o_orderstatus"))
    val c2 = graft.operators.InheritedOps.diffRows(c1, "o_totalprice", 1,
      "o_orderkey", Seq("o_orderstatus"))
    c2.select(col("o_orderkey"), col("o_orderstatus"),
      col("o_custkey").cast("long").as("cum_cust"),
      round(col("o_totalprice") + lit(1e-9), 2).as("price_diff"))
  }

  /** describeAll(approx=true) — the 100 TB sketch path: exact stats
    * (count/mean/std/min/max) are oracle-checked value-for-value; each
    * percentile_approx value is BOUND-CHECKED in-query against the exact
    * percentiles at p±0.005 (GK rank error at accuracy 10⁴ over ~60k rows
    * is ±0.0001 of ranks — 50× slack) and emitted as 1.0 when inside the
    * envelope, the raw value (→ loud hash mismatch) when not. */
  val qDescribeApprox: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_quantity"), Seq("o_orderkey"), "items")
      .withColumn("n_items", size(col("items")).cast("double"))
      .drop("o_orderkey")
      // consumed by 2 describeAll calls x 2 layer aggregates each —
      // materialize the pack once per invocation (see note below)
      .localCheckpoint()
    val pcts = Seq(0.25, 0.5, 0.75)
    val delta = 0.005
    // Both describe outputs are consumed by TWO branches each (exact-stat
    // slice + percentile check; lo + hi), and each consumption re-executed
    // the full pack->describe pipeline — the pack ran ~8x per invocation.
    // localCheckpoint materializes the ~30-row long frames once per
    // invocation (eagerly, inside the timed region — nothing persists
    // across runs) so the pipeline runs once per describe call.
    // The approx and exact-envelope describes are INDEPENDENT jobs over
    // the already-materialized pack — submit both before awaiting either,
    // so the second job back-fills the first one's task tail.
    val approxRaw = NestedOps.describeAll(packed, percentiles = pcts,
      approx = true)
    def renamed(d: DataFrame, from: Seq[Double], vname: String) = {
      val mapping = from.zip(pcts).foldLeft(lit(null).cast("string")) {
        case (acc, (f, t)) =>
          // reuse describeAll's label renderer shape: "24.5%" -> "25%"
          // (same shortest-decimal conversion — labels must join exactly)
          val fn = (BigDecimal(f.toString) * 100).underlying
            .stripTrailingZeros.toPlainString + "%"
          val tn = (BigDecimal(t.toString) * 100).underlying
            .stripTrailingZeros.toPlainString + "%"
          when(col("stat") === fn, lit(tn)).otherwise(acc)
      }
      d.where(col("stat").endsWith("%"))
        .select(col("column"), mapping.as("stat"), col("value").as(vname))
    }
    // ONE exact pass computes both envelope edges (6 percentiles in a
    // single layer-shared aggregate) — 2 scans total with the approx pass
    val exactRaw = NestedOps.describeAll(packed,
      percentiles = pcts.map(_ - delta) ++ pcts.map(_ + delta),
      exactRowLimit = Long.MaxValue) // envelope must stay exact (guard off)
    val (approxD, exactBoth) =
      awaitBoth(approxRaw.localCheckpoint(), exactRaw.localCheckpoint())
    val lo = renamed(exactBoth, pcts.map(_ - delta), "lo")
    val hi = renamed(exactBoth, pcts.map(_ + delta), "hi")
    val exactStats = approxD.where(!col("stat").endsWith("%"))
      .select(col("column"), col("stat"),
        round(col("value") + lit(1e-9), 4).as("value"))
    val pctChecked = approxD.where(col("stat").endsWith("%"))
      .join(lo, Seq("column", "stat")).join(hi, Seq("column", "stat"))
      .select(col("column"), col("stat"),
        when(col("value") >= col("lo") - 1e-9 &&
             col("value") <= col("hi") + 1e-9, lit(1.0))
          .otherwise(round(col("value"), 4)).as("value"))
    exactStats.unionAll(pctChecked)
  }

  // ---------------------------------------------------------------------------
  // registry
  // ---------------------------------------------------------------------------

  val all: Map[String, Q] = Map(
    "q_zip_nests" -> qZipNests,
    "q_take" -> qTake,
    "q_describe_approx" -> qDescribeApprox,
    "q_pack_seq" -> qPackSeq,
    "q_view_fields" -> qViewFields,
    "q_schema_cols" -> qSchemaCols,
    "q_set_list_column" -> qSetListColumn,
    "q_scatter_fill" -> qScatterFill,
    "q_drop_fields" -> qDropFields,
    "q_concat_take" -> qConcatTake,
    "q_sort_base" -> qSortBase,
    "q_cell_dropna" -> qCellDropna,
    "q_apply" -> qApply,
    "q_generate" -> qGenerate,
    "q_partial_read" -> qPartialRead,
    "q_read_glob" -> qReadGlob,
    "q_mixed_read" -> qMixedRead,
    "q_eval_cross" -> qEvalCross,
    "q_map_rows_nested" -> qMapRowsNested,
    "q_describe_pct" -> qDescribePct,
    "q_describe_incl" -> qDescribeIncl,
    "q_sort_napos" -> qSortNapos,
    "q_set_flat_from" -> qSetFlatFrom,
    "q_describe_str" -> qDescribeStr,
    "q_min_max_flags" -> qMinMaxFlags,
    "q_dropna_opts" -> qDropnaOpts,
    "q_session_window" -> qSessionWindow,
    "q_eval_reduce" -> qEvalReduce,
    "q_flagship" -> qFlagship,
    "q_value_counts" -> qValueCounts,
    "q_shift_lag" -> qShiftLag,
    "q_ffill" -> qFfill,
    "q_melt" -> qMelt,
    "q_pivot" -> qPivot,
    "q_rank" -> qRank,
    "q_cum_diff" -> qCumDiff,
    "q_rolling" -> qRolling,
    "q_interp" -> qInterp,
    "q_cut" -> qCut,
    "q_qcut" -> qQcut,
    "q_corr" -> qCorr,
    "q_col_stats" -> qColStats,
    "q_clip_pct" -> qClipPct,
    "q_crosstab" -> qCrosstab,
    "q_factorize" -> qFactorize,
    "q_ewm" -> qEwm,
    // r13: ewm breadth + tranche 14 (time rolling, resample,
    // stack/unstack)
    "q_ewm_var" -> qEwmVar,
    "q_ewm_cov" -> qEwmCov,
    "q_rolling_time" -> qRollingTime,
    "q_resample" -> qResample,
    "q_stack" -> qStack,
    "q_unstack" -> qUnstack,
  )

  val oracles: Map[String, String] = Map(
    "q_ewm_var" ->
      """WITH RECURSIVE posed AS (
        |  SELECT o_orderstatus AS g, o_orderkey AS k, o_totalprice AS x,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_orderkey) AS rn
        |  FROM orders),
        |capped AS (SELECT * FROM posed WHERE rn <= 400),
        |r AS (
        |  SELECT g, k, rn, CAST(x AS DOUBLE) AS s1,
        |    CAST(x * x AS DOUBLE) AS s2,
        |    CAST(1.0 AS DOUBLE) AS w1, CAST(1.0 AS DOUBLE) AS w2
        |  FROM capped WHERE rn = 1
        |  UNION ALL
        |  SELECT c.g, c.k, c.rn,
        |    c.x + (1 - 1.0/(1.0+(10.0-1.0)/2.0)) * r.s1,
        |    c.x * c.x + (1 - 1.0/(1.0+(10.0-1.0)/2.0)) * r.s2,
        |    1.0 + (1 - 1.0/(1.0+(10.0-1.0)/2.0)) * r.w1,
        |    1.0 + (1 - 1.0/(1.0+(10.0-1.0)/2.0))
        |        * (1 - 1.0/(1.0+(10.0-1.0)/2.0)) * r.w2
        |  FROM capped c JOIN r ON c.g = r.g AND c.rn = r.rn + 1)
        |SELECT k AS o_orderkey, g AS o_orderstatus,
        |  CASE WHEN w1 * w1 - w2 > 0 THEN
        |    round(sqrt(GREATEST(
        |      (w1 * w1 / (w1 * w1 - w2))
        |        * (s2 / w1 - (s1 / w1) * (s1 / w1)), 0)) + 1e-9, 4)
        |  END AS ewm_std
        |FROM r""".stripMargin,
    "q_ewm_cov" ->
      """WITH RECURSIVE posed AS (
        |  SELECT o_orderstatus AS g, o_orderkey AS k,
        |    CAST(o_totalprice AS DOUBLE) AS x,
        |    CAST(o_custkey AS DOUBLE) AS y,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_orderkey) AS rn
        |  FROM orders),
        |capped AS (SELECT * FROM posed WHERE rn <= 400),
        |r AS (
        |  SELECT g, k, rn, x AS sx, y AS sy, x * y AS sxy,
        |    x * x AS sxx, y * y AS syy, CAST(1.0 AS DOUBLE) AS w1
        |  FROM capped WHERE rn = 1
        |  UNION ALL
        |  SELECT c.g, c.k, c.rn,
        |    c.x + 0.8 * r.sx, c.y + 0.8 * r.sy,
        |    c.x * c.y + 0.8 * r.sxy, c.x * c.x + 0.8 * r.sxx,
        |    c.y * c.y + 0.8 * r.syy, 1.0 + 0.8 * r.w1
        |  FROM capped c JOIN r ON c.g = r.g AND c.rn = r.rn + 1)
        |SELECT k AS o_orderkey, g AS o_orderstatus,
        |  CASE WHEN (sxx / w1 - (sx / w1) * (sx / w1))
        |         * (syy / w1 - (sy / w1) * (sy / w1)) > 0 THEN
        |    round((sxy / w1 - (sx / w1) * (sy / w1))
        |      / sqrt((sxx / w1 - (sx / w1) * (sx / w1))
        |           * (syy / w1 - (sy / w1) * (sy / w1))) + 1e-9, 5)
        |  END AS ewm_corr
        |FROM r""".stripMargin,
    "q_rolling_time" ->
      """SELECT event_id,
        |  CASE WHEN count(value) OVER w >= 2
        |       THEN round(avg(value) OVER w + 1e-9, 6) END AS roll_mean
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"""
        .stripMargin,
    "q_resample" ->
      """WITH bounds AS (
        |  SELECT epoch_us(date_trunc('day', min(ts))) AS day0,
        |         epoch_us(min(ts)) AS tmin, epoch_us(max(ts)) AS tmax
        |  FROM events),
        |axis AS (
        |  SELECT day0 + ((tmin - day0) // 3600000000) * 3600000000
        |         + unnest(generate_series(0,
        |             ((tmax - day0) // 3600000000)
        |           - ((tmin - day0) // 3600000000))) * 3600000000 AS bin
        |  FROM bounds),
        |agg AS (
        |  SELECT day0 + ((epoch_us(ts) - day0) // 3600000000)
        |           * 3600000000 AS bin,
        |         avg(value) AS m
        |  FROM events, bounds GROUP BY 1)
        |SELECT axis.bin // 1000 AS bin_ms,
        |  round(agg.m + 1e-9, 6) AS v_mean
        |FROM axis LEFT JOIN agg USING (bin)""".stripMargin,
    "q_stack" ->
      """SELECT o_orderkey, 'o_custkey' AS variable,
        |  round(CAST(o_custkey AS DOUBLE), 2) AS value
        |FROM orders WHERE o_custkey IS NOT NULL
        |UNION ALL
        |SELECT o_orderkey, 'o_totalprice' AS variable,
        |  round(CAST(o_totalprice AS DOUBLE), 2) AS value
        |FROM orders WHERE o_totalprice IS NOT NULL""".stripMargin,
    "q_unstack" ->
      """SELECT o_orderkey,
        |  round(max(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END),
        |    2) AS "F",
        |  round(max(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END),
        |    2) AS "O",
        |  round(max(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END),
        |    2) AS "P"
        |FROM orders WHERE o_orderstatus IS NOT NULL
        |GROUP BY 1""".stripMargin,
    "q_ewm" ->
      """WITH RECURSIVE posed AS (
        |  SELECT o_orderstatus AS g, o_orderkey AS k, o_totalprice AS x,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_orderkey) AS rn
        |  FROM orders),
        |capped AS (SELECT * FROM posed WHERE rn <= 400),
        |r AS (
        |  SELECT g, k, x, rn, CAST(x AS DOUBLE) AS num,
        |    CAST(1.0 AS DOUBLE) AS den
        |  FROM capped WHERE rn = 1
        |  UNION ALL
        |  SELECT c.g, c.k, c.x, c.rn, c.x + 0.7 * r.num, 1.0 + 0.7 * r.den
        |  FROM capped c JOIN r ON c.g = r.g AND c.rn = r.rn + 1)
        |SELECT k AS o_orderkey, g AS o_orderstatus,
        |  round(num / den + 1e-9, 4) AS ewm
        |FROM r""".stripMargin,
    "q_crosstab" ->
      """WITH ct AS (
        |  SELECT l_returnflag,
        |   CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
        |     AS BIGINT) AS "F",
        |   CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
        |     AS BIGINT) AS "O",
        |   count(*) AS "All"
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
        |  GROUP BY 1)
        |SELECT l_returnflag, "F", "O", "All" FROM ct
        |UNION ALL
        |SELECT 'All', CAST(sum("F") AS BIGINT), CAST(sum("O") AS BIGINT),
        |  CAST(sum("All") AS BIGINT) FROM ct""".stripMargin,
    "q_factorize" ->
      """WITH fo AS (SELECT o_orderpriority AS v, min(o_orderkey) AS f
        |            FROM orders WHERE o_orderpriority IS NOT NULL
        |            GROUP BY 1),
        |codes AS (SELECT v,
        |  CAST(row_number() OVER (ORDER BY f) - 1 AS BIGINT) AS code
        |  FROM fo)
        |SELECT o_orderkey, CAST(COALESCE(code, -1) AS BIGINT) AS code
        |FROM orders LEFT JOIN codes ON o_orderpriority = v"""
        .stripMargin,
    "q_col_stats" ->
      """WITH m AS (SELECT o_orderpriority AS v, count(*) AS c
        |           FROM orders WHERE o_orderpriority IS NOT NULL
        |           GROUP BY 1)
        |SELECT
        | (SELECT o_orderkey FROM orders
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) AS idx_max,
        | (SELECT o_orderkey FROM orders
        |  ORDER BY o_totalprice ASC, o_orderkey LIMIT 1) AS idx_min,
        | (SELECT count(DISTINCT o_custkey) FROM orders) AS n_uniq,
        | (SELECT round(quantile_cont(o_totalprice, 0.25) + 1e-9, 4)
        |  FROM orders) AS q25,
        | (SELECT string_agg(v, ',' ORDER BY v) FROM m
        |  WHERE c = (SELECT max(c) FROM m)) AS mode,
        | (SELECT round(skewness(o_totalprice) + 1e-9, 6)
        |  FROM orders) AS skew,
        | (SELECT round(kurtosis(o_totalprice) + 1e-9, 6)
        |  FROM orders) AS kurt,
        | (SELECT round(stddev_samp(o_totalprice) / sqrt(count(*)) + 1e-9,
        |    4) FROM orders) AS sem""".stripMargin,
    "q_clip_pct" ->
      """SELECT o_orderkey, o_orderstatus,
        | round(LEAST(GREATEST(o_totalprice, 5000.0), 150000.0), 2)
        |   AS clip_price,
        | round(o_totalprice / lag(o_totalprice) OVER (
        |     PARTITION BY o_orderstatus ORDER BY o_orderkey) - 1
        |   + 1e-9, 6) AS pct
        |FROM orders""".stripMargin,
    "q_rolling" ->
      """SELECT o_orderkey, o_orderstatus,
        | CASE WHEN count(p) OVER w >= 2
        |      THEN round(avg(p) OVER w + 1e-9, 4) END AS roll_mean
        |FROM (SELECT o_orderkey, o_orderstatus,
        |        CASE WHEN o_orderkey % 5 = 3 THEN NULL
        |             ELSE o_totalprice END AS p
        |      FROM orders)
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)"""
        .stripMargin,
    "q_interp" ->
      """WITH posed AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 7 < 2 THEN NULL
        |         ELSE o_totalprice END AS p,
        |    CAST(row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_orderkey) AS DOUBLE) AS pos
        |  FROM orders),
        |marked AS (
        |  SELECT o_orderkey, o_orderstatus, p, pos,
        |    last_value(p IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN p IS NOT NULL THEN pos END
        |      IGNORE NULLS) OVER wp AS pi,
        |    first_value(p IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN p IS NOT NULL THEN pos END
        |      IGNORE NULLS) OVER wn AS ni
        |  FROM posed
        |  WINDOW wp AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT o_orderkey, o_orderstatus,
        | round(CASE WHEN p IS NOT NULL THEN p
        |       WHEN pv IS NULL THEN NULL
        |       WHEN nv IS NULL THEN pv
        |       ELSE pv + (nv - pv) * ((pos - pi) / (ni - pi)) END
        |   + 1e-9, 4) AS p_interp
        |FROM marked""".stripMargin,
    "q_cut" ->
      """SELECT CAST(CASE WHEN l_quantity > 0 AND l_quantity <= 10 THEN 0
        |        WHEN l_quantity > 10 AND l_quantity <= 25 THEN 1
        |        WHEN l_quantity > 25 AND l_quantity <= 50 THEN 2
        |   END AS BIGINT) AS bin,
        | count(*) AS cnt, round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_qcut" ->
      """WITH e AS (
        |  SELECT quantile_cont(CAST(o_custkey AS DOUBLE), 0.25) AS q1,
        |         quantile_cont(CAST(o_custkey AS DOUBLE), 0.5)  AS q2,
        |         quantile_cont(CAST(o_custkey AS DOUBLE), 0.75) AS q3
        |  FROM orders)
        |SELECT CAST(CASE WHEN o_custkey <= q1 THEN 0
        |            WHEN o_custkey <= q2 THEN 1
        |            WHEN o_custkey <= q3 THEN 2
        |            ELSE 3 END AS BIGINT) AS bin,
        | count(*) AS cnt,
        | CAST(min(o_custkey) AS BIGINT) AS lo,
        | CAST(max(o_custkey) AS BIGINT) AS hi
        |FROM orders, e GROUP BY 1""".stripMargin,
    "q_corr" ->
      """SELECT round(corr(l_quantity, l_extendedprice) + 1e-9, 6)
        |   AS corr,
        | round(covar_samp(l_quantity, l_extendedprice) + 1e-9, 2)
        |   AS cov
        |FROM lineitem""".stripMargin,
    "q_rank" ->
      """SELECT o_orderkey, o_orderstatus,
        | CAST(rank() OVER (PARTITION BY o_orderstatus
        |     ORDER BY o_totalprice DESC)
        |   + (count(*) OVER (PARTITION BY o_orderstatus, o_totalprice)
        |      - 1) / 2.0 AS DOUBLE) AS rank
        |FROM orders""".stripMargin,
    "q_cum_diff" ->
      """SELECT o_orderkey, o_orderstatus,
        | CAST(sum(o_custkey) OVER (PARTITION BY o_orderstatus
        |   ORDER BY o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS BIGINT) AS cum_cust,
        | round(o_totalprice - lag(o_totalprice) OVER (
        |     PARTITION BY o_orderstatus ORDER BY o_orderkey) + 1e-9, 2)
        |   AS price_diff
        |FROM orders""".stripMargin,
    "q_melt" ->
      """SELECT o_orderkey, 'o_totalprice' AS variable,
        | CAST(o_totalprice AS DOUBLE) AS value FROM orders
        |UNION ALL
        |SELECT o_orderkey, 'o_custkey',
        | CAST(o_custkey AS DOUBLE) FROM orders""".stripMargin,
    "q_pivot" ->
      """SELECT l_returnflag,
        | CAST(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END)
        |   AS DOUBLE) AS "F",
        | CAST(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END)
        |   AS DOUBLE) AS "O"
        |FROM lineitem
        |WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
        |GROUP BY 1""".stripMargin,
    "q_value_counts" ->
      """SELECT l_returnflag, l_linestatus, cnt,
        | row_number() OVER (ORDER BY cnt DESC, l_returnflag, l_linestatus)
        |   AS rk
        |FROM (SELECT l_returnflag, l_linestatus, count(*) AS cnt
        |      FROM lineitem GROUP BY 1, 2)""".stripMargin,
    "q_shift_lag" ->
      """SELECT o_orderkey, o_orderstatus,
        | lag(o_totalprice) OVER (PARTITION BY o_orderstatus
        |   ORDER BY o_orderkey) AS prev_price
        |FROM orders""".stripMargin,
    "q_ffill" ->
      """SELECT o_orderkey, o_orderstatus,
        | last_value(p IGNORE NULLS) OVER (PARTITION BY o_orderstatus
        |   ORDER BY o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_filled
        |FROM (SELECT o_orderkey, o_orderstatus,
        |        CASE WHEN o_orderkey % 7 < 2 THEN NULL
        |             ELSE o_totalprice END AS p
        |      FROM orders)""".stripMargin,
    "q_zip_nests" ->
      """SELECT l_orderkey AS o_orderkey,
        | round(sum(l_quantity * l_extendedprice) + 1e-9, 2) AS dot
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_take" ->
      """WITH posed AS (
        |  SELECT o_orderkey, o_totalprice,
        |    row_number() OVER (ORDER BY o_orderkey) - 1 AS pos
        |  FROM orders),
        |n AS (SELECT count(*) AS c FROM orders),
        |idx(i) AS (VALUES (2), (0), (7), (7), (-1), (-3))
        |SELECT p.o_orderkey, round(p.o_totalprice, 2) AS o_totalprice
        |FROM idx CROSS JOIN n
        |JOIN posed p
        |  ON p.pos = CASE WHEN idx.i < 0 THEN idx.i + n.c ELSE idx.i END"""
        .stripMargin,
    "q_describe_approx" -> {
      // exact stats value-for-value; percentile rows are in-query
      // bound-checks that emit literal 1.0 when the sketch is inside the
      // exact p±0.005 envelope (see qDescribeApprox) — the oracle asserts
      // the 1.0s.
      def statsOver(src: String, c: String, outName: String) = Seq(
        s"SELECT '$outName' AS \"column\", 'count' AS stat, " +
          s"round(CAST(count($c) AS DOUBLE) + 1e-9, 4) AS value FROM $src",
        s"SELECT '$outName', 'mean', round(avg($c) + 1e-9, 4) FROM $src",
        s"SELECT '$outName', 'std', round(stddev_samp($c) + 1e-9, 4) FROM $src",
        s"SELECT '$outName', 'min', round(CAST(min($c) AS DOUBLE) + 1e-9, 4) FROM $src",
        s"SELECT '$outName', 'max', round(CAST(max($c) AS DOUBLE) + 1e-9, 4) FROM $src",
        s"SELECT '$outName', '25%', 1.0",
        s"SELECT '$outName', '50%', 1.0",
        s"SELECT '$outName', '75%', 1.0",
      ).mkString(" UNION ALL ")
      statsOver(
        "(SELECT CAST(count(*) AS DOUBLE) AS n FROM lineitem GROUP BY l_orderkey)",
        "n", "n_items") + " UNION ALL " +
      statsOver("lineitem", "l_quantity", "items.l_quantity")
    },
    "q_pack_seq" ->
      """SELECT CAST(key AS BIGINT) AS key, CAST(n AS BIGINT) AS n,
        | CAST(sum_y AS DOUBLE) AS sum_y
        |FROM (VALUES (1, 2, 4.0), (2, NULL, NULL), (3, 1, 0.5))
        |  t(key, n, sum_y)""".stripMargin,
    "q_view_fields" ->
      """SELECT l_returnflag, count(*) AS n,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_schema_cols" ->
      """SELECT kind, name FROM (VALUES
        | ('base', 'o_orderkey'), ('base', 'o_totalprice'),
        | ('nested', 'items'),
        | ('sub', 'l_quantity'), ('sub', 'l_returnflag'),
        | ('all', 'o_orderkey'), ('all', 'o_totalprice'),
        | ('all', 'items.l_quantity'), ('all', 'items.l_returnflag'))
        | t(kind, name)""".stripMargin,
    "q_set_list_column" ->
      """SELECT l_orderkey AS orderkey,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_quantity * 2), 2) AS sum_qty2
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,
    "q_scatter_fill" ->
      """SELECT
        | (SELECT round(sum(CASE WHEN o_orderstatus = 'F' THEN 0.0
        |                        ELSE o_totalprice END), 2) FROM orders)
        |   AS sum_masked,
        | (SELECT round(CAST(count(*) AS DOUBLE), 2) FROM lineitem)
        |   AS n_filled""".stripMargin,
    "q_drop_fields" ->
      """SELECT l_returnflag, count(*) AS n,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_concat_take" ->
      """SELECT o_orderkey AS orderkey, round(o_totalprice, 2) AS totalprice
        |FROM (SELECT * FROM orders WHERE o_totalprice > 200000
        |      UNION ALL
        |      SELECT * FROM orders WHERE o_totalprice <= 1000)
        |ORDER BY o_totalprice, o_orderkey LIMIT 15""".stripMargin,
    "q_sort_base" ->
      """SELECT o_orderkey AS orderkey, round(o_totalprice, 2) AS totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_cell_dropna" ->
      """SELECT
        | (SELECT count(*) FROM orders) AS n_orders,
        | (SELECT count(*) FROM orders WHERE NOT EXISTS
        |   (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey))
        |   AS n_childless,
        | (SELECT count(*) FROM orders WHERE EXISTS
        |   (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey))
        |   AS n_after_drop""".stripMargin,
    "q_apply" ->
      """SELECT l_orderkey AS orderkey,
        | count(*) FILTER (WHERE l_quantity > 25) AS n_big
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,
    "q_generate" ->
      """SELECT CAST(200 AS BIGINT) AS n_rows, CAST(1000 AS BIGINT) AS n_elems,
        | CAST(0 AS BIGINT) AS n_bad_band,
        | CAST(0 AS BIGINT) AS n_out_of_range""".stripMargin,
    "q_partial_read" ->
      """SELECT count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem""".stripMargin,
    "q_read_glob" ->
      """SELECT count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem""".stripMargin,
    // both partial-load paths reduce to token/chunk counts recomputed
    // from the source table; Spark split(' ') and DuckDB string_split
    // agree on empty tokens from consecutive delimiters
    "q_mixed_read" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok_flat,
        | lang
        |FROM documents""".stripMargin,
    "q_eval_cross" ->
      """SELECT l_orderkey AS orderkey,
        | round(sum(2 * l_extendedprice + l_discount * 100 + o_totalprice), 2)
        |   AS sum_d
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_orderkey""".stripMargin,
    "q_map_rows_nested" ->
      """SELECT l_orderkey AS orderkey,
        | round(sum(l_quantity * 2), 2) AS sum_q2,
        | round(sum(l_quantity - mn), 2) AS sum_r
        |FROM (SELECT l_orderkey, l_quantity,
        |        min(l_quantity) OVER (PARTITION BY l_orderkey) AS mn
        |      FROM lineitem)
        |GROUP BY l_orderkey""".stripMargin,
    "q_describe_pct" -> {
      def statsOver(src: String, c: String, outName: String) = Seq(
        s"SELECT '$outName' AS \"column\", 'count' AS stat, " +
          s"round(CAST(count($c) AS DOUBLE) + 1e-9, 4) AS value FROM $src",
        s"SELECT '$outName', 'mean', round(avg($c) + 1e-9, 4) FROM $src",
        s"SELECT '$outName', 'std', round(stddev_samp($c) + 1e-9, 4) FROM $src",
        s"SELECT '$outName', 'min', round(CAST(min($c) AS DOUBLE) + 1e-9, 4) FROM $src",
        s"SELECT '$outName', '10%', round(quantile_cont($c, 0.1) + 1e-9, 4) FROM $src",
        // pandas auto-includes the median even when 0.5 isn't requested
        s"SELECT '$outName', '50%', round(quantile_cont($c, 0.5) + 1e-9, 4) FROM $src",
        s"SELECT '$outName', '90%', round(quantile_cont($c, 0.9) + 1e-9, 4) FROM $src",
        s"SELECT '$outName', 'max', round(CAST(max($c) AS DOUBLE) + 1e-9, 4) FROM $src",
      ).mkString(" UNION ALL ")
      statsOver(
        "(SELECT CAST(count(*) AS DOUBLE) AS n FROM lineitem GROUP BY l_orderkey)",
        "n", "n_items") + " UNION ALL " +
      statsOver("lineitem", "l_quantity", "items.l_quantity")
    },
    "q_describe_incl" -> {
      def statsOver(src: String, c: String, outName: String) = Seq(
        s"SELECT '$outName' AS \"column\", 'count' AS stat, " +
          s"round(CAST(count($c) AS DOUBLE) + 1e-9, 4) AS value FROM $src",
        s"SELECT '$outName', 'mean', round(avg($c) + 1e-9, 4) FROM $src",
        s"SELECT '$outName', 'std', round(stddev_samp($c) + 1e-9, 4) FROM $src",
        s"SELECT '$outName', 'min', round(CAST(min($c) AS DOUBLE) + 1e-9, 4) FROM $src",
        s"SELECT '$outName', '25%', round(quantile_cont($c, 0.25) + 1e-9, 4) FROM $src",
        s"SELECT '$outName', '50%', round(quantile_cont($c, 0.5) + 1e-9, 4) FROM $src",
        s"SELECT '$outName', '75%', round(quantile_cont($c, 0.75) + 1e-9, 4) FROM $src",
        s"SELECT '$outName', 'max', round(CAST(max($c) AS DOUBLE) + 1e-9, 4) FROM $src",
      ).mkString(" UNION ALL ")
      statsOver(
        "(SELECT CAST(count(*) AS DOUBLE) AS n FROM lineitem GROUP BY l_orderkey)",
        "n", "n_items") + " UNION ALL " +
      statsOver("lineitem", "l_quantity", "items.l_quantity")
    },
    "q_sort_napos" ->
      """SELECT o_orderkey,
        |  round(CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |        ELSE o_totalprice END, 2) AS np
        |FROM orders
        |ORDER BY (CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |          ELSE o_totalprice END) ASC NULLS LAST, o_orderkey
        |LIMIT 10""".stripMargin,
    "q_set_flat_from" ->
      """SELECT l_orderkey AS o_orderkey, count(*) AS n,
        |  round(2 * sum(l_quantity) + 1e-9, 2) AS sum_q2
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_describe_str" ->
      """WITH base AS (
        |  SELECT o_orderstatus AS value FROM orders
        |  WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)),
        |nested AS (SELECT l_returnflag AS value FROM lineitem),
        |pairs AS (
        |  SELECT 'o_orderstatus' AS "column", value FROM base
        |  UNION ALL
        |  SELECT 'items.l_returnflag', value FROM nested),
        |counts AS (
        |  SELECT "column", value, count(*) AS cnt FROM pairs
        |  WHERE value IS NOT NULL GROUP BY 1, 2),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY "column"
        |    ORDER BY cnt DESC, value) AS rn FROM counts)
        |SELECT c."column", c.cnt, c.n_unique, r.value AS top,
        |  r.cnt AS top_freq
        |FROM (SELECT "column", CAST(sum(cnt) AS BIGINT) AS cnt,
        |        count(*) AS n_unique
        |      FROM counts GROUP BY 1) c
        |JOIN ranked r ON r."column" = c."column" AND r.rn = 1""".stripMargin,
    "q_min_max_flags" ->
      """SELECT
        | (SELECT min(o_orderpriority) FROM orders WHERE EXISTS
        |   (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey))
        |   AS min_priority,
        | (SELECT round(min(l_quantity), 2) FROM lineitem) AS min_qty,
        | (SELECT min(l_returnflag) FROM lineitem) AS min_flag,
        | (SELECT max(o_orderkey) FROM orders WHERE EXISTS
        |   (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey))
        |   AS max_key""".stripMargin,
    "q_dropna_opts" ->
      """SELECT
        | (SELECT count(*) FROM lineitem
        |   WHERE l_discount >= 0.03 AND l_quantity <= 40) AS n_any,
        | (SELECT count(*) FROM lineitem
        |   WHERE NOT (l_discount < 0.03 AND l_quantity > 40)) AS n_all,
        | (SELECT count(*) FROM lineitem
        |   WHERE NOT (l_discount < 0.03 AND l_quantity > 40)) AS n_thresh1""".stripMargin,
    "q_session_window" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
        |m AS (SELECT user_id, ms,
        |        CASE WHEN prev IS NULL OR ms - prev > 1800000 THEN 1 ELSE 0
        |          END AS brk
        |      FROM (SELECT user_id, ms,
        |              lag(ms) OVER (PARTITION BY user_id ORDER BY ms) AS prev
        |            FROM e)),
        |sess AS (SELECT user_id, ms,
        |           sum(brk) OVER (PARTITION BY user_id ORDER BY ms
        |             ROWS UNBOUNDED PRECEDING) AS sid
        |         FROM m)
        |SELECT user_id, min(ms) AS start_ms,
        |  max(ms) + 1800000 AS end_ms, count(*) AS n_events
        |FROM sess GROUP BY user_id, sid""".stripMargin,
    "q_eval_reduce" ->
      """SELECT l_orderkey AS orderkey,
        | round(quantile_cont(l_quantity, 0.5) + 1e-9, 4) AS med,
        | round(avg(l_quantity) + 1e-9, 4) AS mn,
        | round(stddev_samp(l_quantity) + 1e-9, 4) AS sd
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,
    "q_flagship" ->
      """SELECT o_orderkey AS orderkey,
        | round(o_totalprice, 2) AS totalprice,
        | count(*) FILTER (WHERE l_returnflag = 'R') AS n_r,
        | count(*) FILTER (WHERE l_returnflag = 'A') AS n_a,
        | count(*) FILTER (WHERE l_returnflag = 'N') AS n_n,
        | round(avg(l_extendedprice) + 1e-9, 2) AS mean_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_quantity > 10
        |GROUP BY o_orderkey, o_totalprice
        |HAVING count(*) FILTER (WHERE l_returnflag = 'R') > 0""".stripMargin,
  )
}
