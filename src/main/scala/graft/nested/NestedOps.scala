package graft.nested

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core nested-column operations, Spark-first.
  *
  * A "nested column" is any column of type `ArrayType(StructType)` — the exact
  * logical twin of the reference's Arrow `large_list<struct<...>>` storage
  * (reference: src/nested_pandas/series/_storage/list_struct_storage.py:19-39).
  * There is no extension type and no engine fork: every verb below compiles to
  * Column expressions (higher-order functions, `withField`, `collect_list`,
  * `inline`) or standard plans, so Catalyst optimization, whole-stage codegen
  * and AQE apply untouched.
  *
  * The pandas Index of the reference (series/packer.py:96-101) becomes an
  * explicit key column (`on: Seq[String]`) everywhere.
  *
  * Scale notes (100 TB design):
  *  - Only [[NestedOps.packFlat]] / [[NestedOps.joinNested]] / [[NestedOps.fromFlat]]
  *    shuffle (groupBy on the key). Every other verb is a narrow, per-partition
  *    map over array cells — no shuffle, no skew sensitivity.
  *  - Element-level filters/mutations use `filter`/`transform` HOFs which stay
  *    inside whole-stage codegen.
  *  - For pre-bucketed child tables, `packFlat` avoids the shuffle entirely
  *    (bucket pruning); for skewed keys AQE skew-join handles `joinNested`.
  */
object NestedOps {

  // ---------------------------------------------------------------------------
  // Schema introspection (reference: nestedframe/core.py:85-105, 346-383)
  // ---------------------------------------------------------------------------

  /** Is this data type a nested column type (array of struct)? */
  def isNestedType(dt: DataType): Boolean = dt match {
    case ArrayType(_: StructType, _) => true
    case _                           => false
  }

  /** Struct type of the elements of nested column `name`. */
  def nestedStruct(df: DataFrame, name: String): StructType =
    df.schema(name).dataType match {
      case ArrayType(s: StructType, _) => s
      case other =>
        throw new IllegalArgumentException(
          s"Column '$name' is not a nested (array<struct>) column: $other")
    }

  /** Names of all nested (array-of-struct) columns. */
  def nestedColumns(df: DataFrame): Seq[String] =
    df.schema.fields.collect { case f if isNestedType(f.dataType) => f.name }.toSeq

  /** Names of all base (non-nested) columns. */
  def baseColumns(df: DataFrame): Seq[String] =
    df.schema.fields.collect { case f if !isNestedType(f.dataType) => f.name }.toSeq

  /** Field names inside nested column `nest`. */
  def subColumns(df: DataFrame, nest: String): Seq[String] =
    nestedStruct(df, nest).fieldNames.toSeq

  /** Dotted `nest.field` names across ALL nests — the reference's no-arg
    * `get_subcolumns()` (core.py docstring: all nested columns in order). */
  def subColumnsAll(df: DataFrame): Seq[String] =
    nestedColumns(df).flatMap(n => subColumns(df, n).map(f => s"$n.$f"))

  /** All addressable columns: base names ++ dotted `nest.field` names
    * (reference: core.py:85-105 `all_columns`). */
  def allColumns(df: DataFrame): Seq[String] =
    df.schema.fields.toSeq.flatMap { f =>
      f.dataType match {
        case ArrayType(s: StructType, _) =>
          s.fieldNames.toSeq.map(sf => s"${f.name}.$sf")
        case _ => Seq(f.name)
      }
    }

  /** Split a dotted component `nest.field` into (nest, field) if `nest` is a
    * nested column of df; otherwise treat as base column. Backticks stripped. */
  def resolveDotted(df: DataFrame, name: String): (Option[String], String) = {
    val clean = name.replace("`", "")
    val nests = nestedColumns(df).toSet
    val idx = clean.indexOf('.')
    if (idx > 0 && nests.contains(clean.substring(0, idx)))
      (Some(clean.substring(0, idx)), clean.substring(idx + 1))
    else (None, clean)
  }

  // ---------------------------------------------------------------------------
  // Packing / construction (reference: series/packer.py, nestedframe/core.py:385-743)
  // ---------------------------------------------------------------------------

  /** Null placement of a sort key: `naPosition = None` keeps Spark's
    * default (nulls first on ascending keys, last on descending);
    * `Some("first")`/`Some("last")` force pandas-style placement regardless
    * of direction (`sort_values(na_position=)`, core.py:1851-1942). */
  private def nullsFirst(asc: Boolean, naPosition: Option[String]): Boolean =
    naPosition match {
      case None          => asc
      case Some("first") => true
      case Some("last")  => false
      case Some(other) => throw new IllegalArgumentException(
        s"na_position must be 'first' or 'last', got '$other'")
    }

  /** A sort key as ordered: pandas sort_values treats NaN as NA
    * (na_position governs it) where Spark orders NaN as the LARGEST double,
    * so floating keys rewrite NaN → NULL (r9s5 NaN-parity rule). */
  private def sortKey(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => when(isnan(c), lit(null)).otherwise(c)
    case _                      => c
  }

  /** Comparator Column for `array_sort(expr, (l, r) => ...)` over struct
    * elements, ordering by `keys` (field name, ascending?) with
    * [[nullsFirst]] placement; `schema` gives the key types. Interpreted
    * once per comparison — only [[CellOrder]]'s fallback uses it. */
  private def structComparator(l: Column, r: Column,
                               keys: Seq[(String, Boolean)],
                               naPosition: Option[String],
                               schema: StructType): Column =
    keys.foldRight(lit(0)) { case ((field, asc), tail) =>
      val dt = schema.find(_.name == field).fold[DataType](NullType)(_.dataType)
      val (lf, rf) = (sortKey(l.getField(field), dt),
        sortKey(r.getField(field), dt))
      val (lt, gt) = if (asc) (lit(-1), lit(1)) else (lit(1), lit(-1))
      val nf = nullsFirst(asc, naPosition)
      when(lf.isNull && rf.isNull, tail)
        .when(lf.isNull, if (nf) lit(-1) else lit(1))
        .when(rf.isNull, if (nf) lit(1) else lit(-1))
        .when(lf < rf, lt)
        .when(lf > rf, gt)
        .otherwise(tail)
    }

  /** The one sorted-cell primitive behind every ordering site
    * ([[sortElements]], [[packFlat]], [[packFlatSalted]], [[fromFlat]]):
    * orders cells of `payloadFields` elements by `keys` (fields of `schema`,
    * ascending?) with [[nullsFirst]] placement and NaN as NA — the order
    * of [[structComparator]].
    *
    * [[wrap]] turns an element into the struct (sort prefix…, tie-break…,
    * `__p` = payload); [[sort]] orders a cell of wrapped elements with ONE
    * native `sort_array` and extracts `__p` natively (GetArrayStructFields)
    * — no per-comparison lambda, no per-element decode lambda. Per key, the
    * prefix holds:
    *  - a null flag `__n<i>` (`isNull`, false < true) when the key's null
    *    placement differs from the sort's natural one (nulls first when
    *    sorting ascending, last when descending);
    *  - `__s<i>`: the key raw when its direction is the sort's, order-
    *    reversed by [[descEncode]] otherwise.
    * The sort runs descending only when every key is descending (raw keys,
    * so descending strings stay native there), ascending otherwise. Ties
    * break on whatever the caller puts between the prefix and the payload,
    * then on the payload itself: the pack sites pass nothing (a
    * deterministic total order by payload), [[sortInPlace]] the element
    * position (the stable order of the comparator sort).
    *
    * Fallback: a key with no lossless reverse encode against the sort
    * direction (a descending string beside an ascending key), or a
    * non-orderable key or payload, sorts with [[structComparator]] —
    * [[wrap]] is then the identity. No keys: no sort. */
  private final class CellOrder(schema: StructType,
                                keys: Seq[(String, Boolean)],
                                payloadFields: Seq[String],
                                naPosition: Option[String] = None) {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    private val keyNullsFirst =
      keys.map { case (_, a) => nullsFirst(a, naPosition) }
    private val asc = keys.exists(_._2)
    private def typeOf(f: String) = schema(f).dataType
    private val native = keys.nonEmpty &&
      (keys.map(_._1) ++ payloadFields).forall(schema.fieldNames.contains) &&
      RowOrdering.isOrderable(
        StructType((keys.map(_._1) ++ payloadFields).map(schema(_)))) &&
      keys.forall { case (f, a) => a == asc || descEncodable(typeOf(f)) }

    /** The sort struct of one element: `field` reads a key of it. */
    def wrap(field: String => Column, payload: Column, tie: Column*): Column =
      if (!native) payload
      else struct((keys.zip(keyNullsFirst).zipWithIndex.flatMap {
        case (((f, a), nf), i) =>
          val k = sortKey(field(f), typeOf(f))
          val flag = if (nf != asc) Seq(k.isNull.as(s"__n$i")) else Nil
          flag :+ (if (a == asc) k else descEncode(k, typeOf(f))).as(s"__s$i")
      } ++ tie :+ payload.as("__p")): _*)

    /** A cell of [[wrap]]ped elements, sorted, as payloads. */
    def sort(cells: Column): Column =
      if (native) sort_array(cells, asc).getField("__p")
      else if (keys.isEmpty) cells
      else array_sort(cells,
        (l, r) => structComparator(l, r, keys, naPosition, schema))

    /** An existing cell of payloads, sorted; ties keep element order. */
    def sortInPlace(cell: Column): Column =
      if (!native) sort(cell)
      else sort(transform(cell, (x, i) =>
        wrap(x.getField, x, (if (asc) i else bitwise_not(i)).as("__t"))))
  }

  /** Pack a flat child frame into one row per key with a nested column.
    *
    * Reference: `pack_flat` (series/packer.py:64-117) — group by index, one
    * sub-frame per key. Deterministic element order is achieved by sorting
    * each collected cell with [[CellOrder]] when `sortBy` is given (the
    * reference stable-sorts by index; within-key order there is input
    * order, which Spark does not guarantee across shuffles — callers that
    * need determinism pass `sortBy`). Ties break by the payload fields, a
    * deterministic TOTAL order (shuffle-arrival order would be
    * fetch-order-dependent and not retry-stable); a non-encodable key
    * (see [[CellOrder]]) falls back to the comparator and arrival order.
    *
    * NULL-key semantics (documented delta from the reference, which RAISES on
    * NaN keys, packer.py:102-117): NULL-key child rows form a NULL-key group
    * here, and the subsequent equi-join in [[joinNested]] drops it (SQL
    * `NULL ≠ NULL`) — i.e. NULL-key children silently attach to no row.
    * Raising would cost a validation scan at 100 TB; filter or assert
    * upstream if the input can't be trusted.
    *
    * Physical plan: ObjectHashAggregate(collect_list) — one shuffle on `on`.
    * At 100 TB: the single shuffle of the pipeline; pre-bucketed tables on the
    * key skip it entirely.
    *
    * NaN sort keys order as NA on the uncapped path (r9s5 NaN-parity rule,
    * same as [[sortElements]]); the `maxPerKey` selection paths (engine
    * extension — no pandas analog) keep Spark's native struct ordering
    * (NaN largest) for the kept-k choice.
    */
  def packFlat(child: DataFrame, on: Seq[String], name: String,
               sortBy: Seq[(String, Boolean)] = Nil,
               maxPerKey: Option[Int] = None): DataFrame =
    maxPerKey match {
      case Some(k) if capTopKEligible(child, on, sortBy) =>
        packFlatTopK(child, on, name, k, sortBy)
      case Some(k) => packFlatCapped(child, on, name, k, sortBy)._1
      case None =>
        val valueCols = child.columns.filterNot(on.contains).toSeq
        // Map-side partial aggregation buys NOTHING for collect_list — the
        // list state carries every row, so the shuffle moves the same
        // bytes either way — but it COSTS building + serializing per-key
        // array buffers inside the (often scan-bound) map stage, and the
        // reducer then re-merges those buffers. An explicit key
        // repartition ahead of the groupBy ships raw rows through the one
        // unavoidable exchange and builds each cell exactly once on the
        // reducer (same single-Exchange plan, measured ~35% faster at
        // bench scale). Inputs ALREADY clustered on the key (bucketed
        // tables, a previous keyed shuffle) keep the zero-shuffle plan:
        // the repartition is added only when the child's physical
        // partitioning does not satisfy the grouping.
        val src =
          if (clusteredOn(child, on)) child
          else child.repartition(on.map(col): _*)
        // the sort prefix is built from the flat columns before the
        // collect, so the sorted pack adds no per-element lambda
        val ord = new CellOrder(child.schema, sortBy, valueCols)
        src.groupBy(on.map(col): _*)
          .agg(ord.sort(collect_list(
            ord.wrap(col, struct(valueCols.map(col): _*)))).as(name))
    }

  /** Types with a lossless ORDER-REVERSING encode for [[CellOrder]]
    * (strings have none — against the sort direction they fall back to the
    * comparator). */
  private def descEncodable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | FloatType | DoubleType |
         BooleanType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Order-REVERSING encode of a (non-NaN; NaN pre-mapped to NULL) sort key:
    * x < y  ⇔  enc(x) > enc(y). Integral types use bitwise NOT (monotone
    * decreasing, no `-MinValue` overflow); date/timestamp go through exact
    * epoch integers first; float/double/decimal negate (Spark normalizes
    * ±0.0 for comparisons, so the 0.0 class keeps its order). */
  private def descEncode(k: Column, dt: DataType): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType => bitwise_not(k)
    case DateType => bitwise_not(datediff(k, to_date(lit("1970-01-01"))))
    case TimestampType => bitwise_not(unix_micros(k))
    case TimestampNTZType =>
      // NO session-timezone cast: NTZ→TIMESTAMP goes through the session
      // zone, and a DST gap maps two DISTINCT wall times to one instant
      // (silent tie-merge). Local date + time-of-day field extraction is
      // timezone-free; the (days, microsOfDay) pair orders exactly like
      // the NTZ value and a struct compares lexicographically, so NOT-ing
      // both fields reverses the order losslessly. extract-SECOND carries
      // the fractional part as DECIMAL(8,6) — exact micros.
      struct(
        bitwise_not(datediff(to_date(k), to_date(lit("1970-01-01")))),
        bitwise_not((hour(k).cast("long") * 3600000000L +
          minute(k).cast("long") * 60000000L +
          (date_part(lit("SECOND"), k) * 1000000).cast("long"))))
    case FloatType | DoubleType => negate(k)
    case _: DecimalType => negate(k)
    case BooleanType => !k
    case other => throw new IllegalArgumentException(
      s"descEncode: unsupported type $other")
  }

  /** Whether `child`'s physical output partitioning already satisfies a
    * clustering on `on` (bucketed scan, previous keyed exchange) — probed
    * on the pre-AQE physical plan (no job; the AQE wrapper reports
    * UnknownPartitioning before execution). */
  private def clusteredOn(child: DataFrame, on: Seq[String]): Boolean =
    try {
      import org.apache.spark.sql.catalyst.plans.physical.ClusteredDistribution
      val plan = child.queryExecution.sparkPlan
      val attrs = on.flatMap(n => plan.output.find(_.name == n))
      attrs.size == on.size &&
        plan.outputPartitioning.satisfies(ClusteredDistribution(attrs))
    } catch { case _: Throwable => false }

  /** Guarded pack for hot keys: per key, pack only the first `maxPerKey`
    * child rows (in `sortBy` order, full-payload tie-broken; smallest-k
    * by payload when no `sortBy`) and DIVERT the rest to a flat side
    * output.
    *
    * Why this exists: salting ([[packFlatSalted]]) fixes shuffle-side
    * imbalance but the merged cell of a hot key is irreducibly one task's
    * output — a key whose packed array exceeds task memory OOMs the merge
    * no matter how it was shuffled (SkewProbe finding, SCALING.md). The
    * enforceable rule at 100 TB is a cap: the kept branch is pruned to
    * ≤ `maxPerKey` rows per key MAP-SIDE (Spark's WindowGroupLimit
    * pushdown runs partial top-k in each map task before the shuffle), so
    * neither the shuffle nor the packed cell can exceed the budget.
    *
    * Returns (packed, overflow): `packed` has every key with
    * `size(name) <= maxPerKey`; `overflow` holds the diverted child rows
    * in the child's schema (empty when nothing exceeds the cap) — route
    * it to a side sink, re-pack it chunked, or drop it (= pure cap).
    * The overflow branch cannot use the group-limit pushdown (it keeps
    * the far side of the rank); its window sort spills but never
    * collects, so it is slow-but-safe on a pathological key.
    *
    * Plan: one hash shuffle on `on` shared by the rank window and the
    * groupBy (same partitioning — no second Exchange on the kept branch). */
  /** Cap-only fast path: bounded top-k COLLECT (Spark's CollectTopK via
    * [[org.apache.spark.sql.catalyst.expressions.aggregate.GraftCollectTopK]])
    * instead of a rank window. One ObjectHashAggregate whose map-side
    * partial state is a k-bounded heap per key: the shuffle carries
    * ≤ k rows per key per map task and nothing is sorted — strictly
    * cheaper than the window form (which sorts all input twice) AND than
    * an uncapped pack on a hot key (whose rows all cross the shuffle).
    * Eligible when the sortBy directions are uniform — all ascending
    * (struct lexicographic order = the sort) or all descending (same
    * order with CollectTopK's `reverse` flipped, so "keep the LATEST k
    * per key" gets the map-side-bounded plan too) — and the ordering
    * struct is an orderable type. The payload struct rides as the final
    * tie-break, which makes the kept subset a pure function of the
    * input set. */
  private def packFlatTopK(child: DataFrame, on: Seq[String], name: String,
                           maxPerKey: Int,
                           sortBy: Seq[(String, Boolean)]): DataFrame = {
    require(maxPerKey > 0,
      s"packFlat: maxPerKey must be > 0, got $maxPerKey")
    import org.apache.spark.sql.catalyst.expressions.aggregate.GraftCollectTopK
    val valueCols = child.columns.filterNot(on.contains).toSeq
    val payload = struct(valueCols.map(col): _*)
    // all-ascending → smallest-k, output ascending; all-descending →
    // largest-k, output descending (eligibility guarantees uniformity)
    val asc = sortBy.isEmpty || sortBy.head._2
    if (sortBy.isEmpty) {
      // order by the payload itself: deterministic smallest-k subset
      child.groupBy(on.map(col): _*)
        .agg(GraftCollectTopK.column(payload, maxPerKey, asc).as(name))
    } else {
      // sort fields lead the ordering struct (aliased __s* so a sort
      // field can never collide with the payload alias), payload last
      val ordChild = struct((sortBy.zipWithIndex.map { case ((f, _), i) =>
        col(f).as(s"__s$i") } :+ payload.as("__p")): _*)
      child.groupBy(on.map(col): _*)
        .agg(GraftCollectTopK.column(ordChild, maxPerKey, asc)
          .getField("__p").as(name))
    }
  }

  /** The bounded-collect path needs uniform sort directions — all
    * ascending OR all descending (struct natural order is lexicographic;
    * a uniform reversal is CollectTopK's `reverse` flag, but a MIX of
    * directions has no struct ordering) — and an orderable ordering
    * type (maps aren't). Mixed directions → the rank-window path. */
  private def capTopKEligible(child: DataFrame, on: Seq[String],
                              sortBy: Seq[(String, Boolean)]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    val valueCols = child.columns.filterNot(on.contains).toSeq
    val ordType = StructType(
      sortBy.map { case (f, _) => child.schema(f) } ++
        valueCols.map(c => child.schema(c)))
    (sortBy.forall(_._2) || sortBy.forall(!_._2)) &&
      RowOrdering.isOrderable(ordType)
  }

  def packFlatCapped(child: DataFrame, on: Seq[String], name: String,
                     maxPerKey: Int,
                     sortBy: Seq[(String, Boolean)] = Nil)
      : (DataFrame, DataFrame) = {
    require(maxPerKey > 0, s"packFlatCapped: maxPerKey must be > 0, got " +
      maxPerKey)
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    val valueCols = child.columns.filterNot(on.contains).toSeq
    // The two returned plans are evaluated INDEPENDENTLY, so kept ∪
    // overflow == child only holds if the rank is a pure function of the
    // input. Make the order total: sortBy fields lead, the full payload
    // struct is the tie-break — row_number is then deterministic up to
    // ties between fully-identical rows, which are interchangeable.
    val orderable = RowOrdering.isOrderable(StructType(
      sortBy.map { case (f, _) => child.schema(f) } ++
        valueCols.map(c => child.schema(c))))
    if (orderable) {
      val ord = sortBy.map { case (f, asc) =>
        if (asc) col(f).asc else col(f).desc } :+
        struct(valueCols.map(col): _*).asc
      val w = Window.partitionBy(on.map(col): _*).orderBy(ord: _*)
      val ranked = child.withColumn("__rn", row_number().over(w))
      val kept = ranked.where(col("__rn") <= maxPerKey).drop("__rn")
      val overflow = ranked.where(col("__rn") > maxPerKey).drop("__rn")
      (packFlat(kept, on, name, sortBy), overflow)
    } else {
      // Non-orderable payload (e.g. a map column): no total order exists.
      // Rank on a snapshot id and MATERIALIZE the ranking once
      // (localCheckpoint) so both branches read the same assignment
      // instead of re-rolling monotonically_increasing_id per plan.
      val base = child.withColumn("__ord", monotonically_increasing_id())
      val w = Window.partitionBy(on.map(col): _*)
        .orderBy(col("__ord").asc)
      val ranked = base.withColumn("__rn", row_number().over(w))
        .localCheckpoint()
      val kept = ranked.where(col("__rn") <= maxPerKey)
        .drop("__rn", "__ord")
      val overflow = ranked.where(col("__rn") > maxPerKey)
        .drop("__rn", "__ord")
      (packFlat(kept, on, name, sortBy), overflow)
    }
  }

  /** Skew-hardened two-stage pack: when a handful of keys dominate (one
    * astronomy object with 10⁷ observations), a straight groupBy sends the
    * whole hot key to one task. This variant pre-aggregates on
    * (key, salt ∈ [0, saltBuckets)) — spreading each hot key over
    * `saltBuckets` tasks — then merges the partial arrays with a second,
    * much smaller aggregation (`flatten(collect_list(...))`).
    * Use when AQE's skew handling isn't enough (extreme single-key skew);
    * costs one extra (cheap) shuffle. Element order is salt-interleaved —
    * pass `sortBy` for deterministic order.
    *
    * 100 TB default (r9 probe, SCALING.md §skew-r9): plain [[packFlat]]
    * unless the hot key's CELL BYTES (elements × row width) approach
    * task memory — at 100M rows with a 10⁷-element hot key and narrow
    * rows, plain beat salted 2.3-2.7× (salting taxes every key with a
    * second shuffle; the final merged cell is one task's output either
    * way). When cell bytes are the problem, salting cannot shrink them —
    * use `packFlat(maxPerKey=)` / [[packFlatCapped]] (bounded by
    * construction) or keep that key flat. AQE's skew-join never applies:
    * it splits join/sort partitions, not aggregations, and joinNested's
    * join side is post-agg (one row per key) — probe-verified
    * end-to-end. */
  def packFlatSalted(child: DataFrame, on: Seq[String], name: String,
                     saltBuckets: Int,
                     sortBy: Seq[(String, Boolean)] = Nil): DataFrame = {
    val valueCols = child.columns.filterNot(on.contains).toSeq
    val salted = child.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(),
        lit(saltBuckets)))
    val ord = new CellOrder(child.schema, sortBy, valueCols)
    val partial = salted
      .groupBy((on :+ "__salt").map(col): _*)
      .agg(collect_list(ord.wrap(col, struct(valueCols.map(col): _*)))
        .as("__part"))
    partial
      .groupBy(on.map(col): _*)
      .agg(ord.sort(flatten(collect_list(col("__part")))).as(name))
  }

  /** Group-join: pack `child` by `on` and join onto `base`.
    *
    * Reference: `NestedFrame.join_nested` (nestedframe/core.py:469-557).
    * `how` ∈ left | inner | right | outer (same as reference core.py:496-505).
    * A base row with no children gets a NULL nested cell (left/outer), which
    * the reference also produces — NULL cell ≠ empty array (core.py:404-412).
    *
    * Plan: one shuffle for the groupBy; the join is equi-join on the same key
    * so Catalyst reuses the partitioning (no second shuffle of the child side);
    * small packed sides are broadcast automatically under AQE.
    */
  def joinNested(base: DataFrame, child: DataFrame, on: Seq[String],
                 name: String, how: String = "left",
                 sortBy: Seq[(String, Boolean)] = Nil): DataFrame =
    base.join(packFlat(child, on, name, sortBy), on, how)

  /** Split one flat frame into base columns (first value per key) + a packed
    * nested column. Reference: `NestedFrame.from_flat` (core.py:595-658).
    *
    * `sortBy` (r9): deterministic within-cell element order, like
    * [[packFlat]] — the reference preserves input row order, which a
    * shuffle cannot; pass the position/sort columns explicitly. */
  def fromFlat(df: DataFrame, baseCols: Seq[String], nestedCols: Seq[String],
               on: Seq[String], name: String = "nested",
               sortBy: Seq[(String, Boolean)] = Nil): DataFrame =
  {
    // backtick every reference: column NAMES may contain dots/spaces
    // (reference test_get_dot_names, test_nestedframe.py:417-426) and a
    // bare col(".b.") parses the dots as a field path
    def c(n: String) = col("`" + n.replace("`", "``") + "`")
    val ord = new CellOrder(df.schema, sortBy, nestedCols)
    val aggs = baseCols.map(n => first(c(n)).as(n)) :+
      ord.sort(collect_list(ord.wrap(c,
        struct(nestedCols.map(n => c(n).as(n)): _*)))).as(name)
    df.groupBy(on.map(c): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Zip equal-length list columns into one nested column.
    * Reference: `from_lists` / `pack_lists` (core.py:660-743, packer.py:185-252).
    * Pure narrow op: `arrays_zip` (zero shuffle). Mismatched per-row list
    * lengths RAISE — the reference throws `ValueError: List lengths do not
    * match` and bare `arrays_zip` would silently NULL-pad the shorter list
    * (r9 nest_lists fuzz family, executed reference). `<=>` keeps a row
    * whose lists are ALL NULL a missing cell (graft keeps missing missing;
    * the reference raises on mixed null/list rows, which `<=>` also
    * catches as a length mismatch). */
  /** Guard VALUE for zipping array columns whose per-row lengths must
    * agree: `value` where every size matches, raise_error otherwise —
    * the reference raises ValueError on mismatched lengths and a bare
    * `arrays_zip` would silently NULL-pad the shorter side. `<=>` keeps
    * a row whose arrays are ALL NULL a missing cell (graft keeps
    * missing missing) while a MIXED null/array row raises, like the
    * reference. Shared by [[zipNests]] and [[fromLists]]. */
  private def sizeAlignedOrRaise(cols: Seq[String], value: Column,
                                 err: String): Column =
    if (cols.lengthCompare(2) < 0) value
    else {
      val ok = cols.tail.foldLeft(lit(true))((acc, c) =>
        acc && (size(col(cols.head)) <=> size(col(c))))
      when(ok, value).otherwise(raise_error(lit(err)))
    }

  def fromLists(df: DataFrame, listCols: Seq[String], name: String = "nested",
                dropSource: Boolean = true): DataFrame = {
    require(listCols.nonEmpty, "fromLists needs at least one list column")
    val zipped = df.withColumn(name, sizeAlignedOrRaise(listCols,
      arrays_zip(listCols.map(col): _*),
      s"from_lists: list lengths do not match across " +
        listCols.mkString(", ")))
    // `name` may BE one of the sources (reference nest_lists(["c"], "c"),
    // test_set_item_combine_nested) — withColumn already replaced it;
    // dropping it again would drop the result
    if (dropSource) zipped.drop(listCols.filterNot(_ == name): _*)
    else zipped
  }

  // ---------------------------------------------------------------------------
  // Projection / un-nesting (reference: accessor.py to_flat/to_lists, core.py getitem)
  // ---------------------------------------------------------------------------

  /** Un-nest `nest` into flat columns, repeating the given base columns per
    * element. Reference: `.nest.to_flat` (accessor.py:93-157). Rows whose cell
    * is NULL or empty produce no rows (reference behavior); pass
    * `keepEmpty=true` for `inline_outer` semantics.
    * Narrow op (generator, no shuffle). Field subsets are rebuilt from
    * field-path extractions (not a `transform` lambda) so parquet
    * nested-schema pruning still reaches the scan. */
  def toFlat(df: DataFrame, nest: String, baseCols: Seq[String] = Nil,
             fields: Seq[String] = Nil, keepEmpty: Boolean = false): DataFrame = {
    val cell =
      if (fields.isEmpty) col(nest)
      else arrays_zip(fields.map(f => col(s"$nest.$f").as(f)): _*)
    if (keepEmpty) df.select(baseCols.map(col) :+ inline_outer(cell): _*)
    else {
      // NOT `inline(cell)`: InferFiltersFromGenerate turns a non-outer
      // generate into Filter(size(cell)>0 AND isnotnull(cell)) + Generate,
      // and predicate pushdown substitutes the FULL cell expression into
      // that filter — a computed nest (eval/query transform chains) was
      // re-evaluated twice more per row (plan-verified on q_dialect_dt;
      // 3 evaluations of the per-element projection instead of 1).
      // posexplode_outer + a pos filter is row-for-row identical to
      // inline — the outer generator emits exactly one NULL-pos row for
      // NULL/empty cells, and real NULL elements keep a position — while
      // the rule only fires for non-outer generators, so the cell is
      // evaluated ONCE. The pos filter sits ABOVE the generate and
      // references only the generated ordinal (cheap, never duplicated).
      val fieldList = if (fields.isEmpty) subColumns(df, nest) else fields
      df.select(baseCols.map(col) :+
          posexplode_outer(cell).as(Seq("__graft_gpos", "__graft_gelem")): _*)
        .where(col("__graft_gpos").isNotNull)
        .select(baseCols.map(col) ++
          fieldList.map(f => col("__graft_gelem").getField(f).as(f)): _*)
    }
  }

  /** Project nested column to a subset of its fields.
    * Reference: `view_fields` (accessor.py:762-801). Narrow `transform`.
    * Unknown or repeated fields raise (ext_array.py view_fields contract,
    * test_ext_array.py:1675-1704). */
  def selectSubFields(df: DataFrame, nest: String, fields: Seq[String]): DataFrame = {
    val existing = subColumns(df, nest)
    val unknown = fields.filterNot(existing.contains)
    require(unknown.isEmpty,
      s"No fields ${unknown.mkString(", ")} in nested column '$nest' " +
        s"(has: ${existing.mkString(", ")})")
    require(fields.distinct.length == fields.length,
      s"Repeated field names in view of nested column '$nest': " +
        fields.diff(fields.distinct).distinct.mkString(", "))
    df.withColumn(nest,
      transform(col(nest), s => struct(fields.map(f => s.getField(f).as(f)): _*)))
  }

  /** One list column per nested field. Reference: `.nest.to_lists`
    * (accessor.py:44-91). */
  def toLists(df: DataFrame, nest: String, baseCols: Seq[String] = Nil): DataFrame = {
    val fields = subColumns(df, nest)
    df.select(baseCols.map(col) ++
      fields.map(f => transform(col(nest), s => s.getField(f)).as(f)): _*)
  }

  /** Per-row element count. Reference: `.nest.len()` (accessor.py:164-175).
    * NULL cell → NULL (distinct from empty → 0). */
  def nestLen(nest: String): Column = size(col(nest))

  /** Flat column `nest.field` extracted with its key columns, one row per
    * element. Reference: `nf["nested.t"]` (core.py:228-259). */
  def getSubColumn(df: DataFrame, dotted: String, keyCols: Seq[String]): DataFrame = {
    val (nestOpt, field) = resolveDotted(df, dotted)
    nestOpt match {
      case Some(nest) =>
        // field-path explode (GetArrayStructFields) — prunes the scan to the
        // single requested leaf, unlike exploding the whole struct array
        df.select(keyCols.map(col) :+
          explode(col(s"$nest.$field")).as(field): _*)
      case None => df.select(keyCols.map(col) :+ col(field): _*)
    }
  }

  // ---------------------------------------------------------------------------
  // Element-level filters (reference: core.py query/dropna, accessor.py query)
  // ---------------------------------------------------------------------------

  /** Filter ELEMENTS inside each nested cell, keeping all top-level rows.
    * Cells whose every element was dropped become NULL (MISSING), not
    * empty arrays: the reference repacks the filtered flat rep for the
    * accessor boolean mask exactly as for query — r9 executed probe,
    * `ser.nest[mask]` → None for the emptied key — overturning the r5
    * claim that the accessor layer keeps empties. Reference:
    * `NestedFrame.query` nested predicate (core.py:1526-1648) +
    * accessor mask (accessor.py:762-773). Narrow HOF, no shuffle. */
  def filterElements(df: DataFrame, nest: String, pred: Column => Column): DataFrame =
    // gate on exists(), not size(filter(...)) > 0: HOF lambdas get no
    // codegen CSE, so the when/size pair would run the full filter
    // TWICE per row; exists short-circuits at the first hit (same rule
    // as NestedExpr.query's element path)
    df.withColumn(nest,
      when(exists(col(nest), pred), filter(col(nest), pred)))

  /** Same, but drop rows whose cell emptied.
    * Reference: `.nest.query` (accessor.py:600-638).
    * NOT composed as `filterElements(...).where(isNotNull)`: predicate
    * pushdown substitutes the computed `when(exists, filter)` column into
    * the Filter, so every row ran the exists+filter pair TWICE (once in
    * the Filter, once in the Project). Filtering on `exists` over the
    * ORIGINAL column first is equivalent — `when(exists, filter)` is
    * non-NULL exactly when `exists` is true — and every surviving row
    * then takes the `when` branch, so the kept cell is just
    * `filter(...)`: one exists + one filter per row, no duplication. */
  def filterElementsDropEmpty(df: DataFrame, nest: String,
                              pred: Column => Column): DataFrame =
    df.where(exists(col(nest), pred))
      .withColumn(nest, filter(col(nest), pred))

  /** Drop elements with NULLs in `subset` fields (all fields if empty).
    * Reference: `dropna(on_nested=...)` (core.py:1699-1849) with pandas'
    * `how`/`thresh` pass-through:
    *  - `how="any"` (default): drop an element if ANY subset field is null;
    *  - `how="all"`: drop only if ALL subset fields are null;
    *  - `thresh=Some(n)`: keep elements with ≥ n non-null subset fields
    *    (overrides `how`, like pandas). */
  def dropNaElements(df: DataFrame, nest: String,
                     subset: Seq[String] = Nil, how: String = "any",
                     thresh: Option[Int] = None): DataFrame = {
    val fields = if (subset.nonEmpty) subset else subColumns(df, nest)
    // a literal NaN element counts as NA like pandas dropna (base-layer
    // na.drop already treats NaN as NA — r9s5 NaN-parity rule)
    val struct0 = nestedStruct(df, nest)
    def present(s: Column, f: String): Column = struct0(f).dataType match {
      case DoubleType | FloatType =>
        s.getField(f).isNotNull && !isnan(s.getField(f))
      case _ => s.getField(f).isNotNull
    }
    def nonNullCount(s: Column): Column =
      fields.map(f => when(present(s, f), 1).otherwise(0))
        .reduce(_ + _)
    val keep: Column => Column = thresh match {
      case Some(t) => s => nonNullCount(s) >= t
      case None => how match {
        case "any" => s => fields.map(f => present(s, f)).reduce(_ && _)
        case "all" => s => fields.map(f => present(s, f)).reduce(_ || _)
        case other => throw new IllegalArgumentException(
          s"dropna how= must be 'any' or 'all', got '$other'")
      }
    }
    // cells EMPTIED by the drop become NULL, not empty arrays: every
    // flat-repack surface (query, dropna, the accessor mask) nulls
    // emptied cells — r9 op-fuzzer + probes vs the executed reference;
    // filterElements itself applies the rule.
    filterElements(df, nest, keep)
  }

  /** Fill NULLs in nested fields with per-field constants.
    * Reference: `fillna` with dotted keys (core.py:1351-1434). */
  def fillNaElements(df: DataFrame, nest: String,
                     values: Map[String, Any]): DataFrame = {
    // pandas fillna fills NaN too (base na.fill already does; coalesce
    // alone would keep a literal NaN element — r9s5 NaN-parity rule)
    val struct0 = nestedStruct(df, nest)
    def na(c: Column, f: String): Column = struct0(f).dataType match {
      case DoubleType | FloatType => when(isnan(c), lit(null)).otherwise(c)
      case _                      => c
    }
    df.withColumn(nest, transform(col(nest), s =>
      values.foldLeft(s) { case (acc, (f, v)) =>
        acc.withField(f, coalesce(na(s.getField(f), f), lit(v)))
      }))
  }

  /** MAPPING form of whole-frame fillna (core.py:1415-1428): base keys fill
    * their base columns (Spark `na.fill(Map)` semantics), dotted
    * `nest.field` keys route to that nest's elements. Keys for absent
    * columns are ignored, like pandas. */
  def fillNaAll(df: DataFrame, values: Map[String, Any]): DataFrame = {
    val nests = nestedColumns(df).toSet
    val (nestedKeys, baseKeys) = values.partition { case (k, _) =>
      k.contains(".") && nests.contains(k.split("\\.", 2)(0))
    }
    val base = if (baseKeys.isEmpty) df
      else df.na.fill(baseKeys.filter { case (k, _) => df.columns.contains(k) })
    nestedKeys.toSeq.groupBy(_._1.split("\\.", 2)(0)).toSeq.sortBy(_._1)
      .foldLeft(base) { case (acc, (nest, kvs)) =>
        val fields = subColumns(df, nest).toSet
        val m = kvs.collect { case (k, v)
          if fields(k.split("\\.", 2)(1)) => k.split("\\.", 2)(1) -> v }.toMap
        if (m.isEmpty) acc else fillNaElements(acc, nest, m)
      }
  }

  /** Whole-frame SCALAR fillna: fills base columns AND every field of every
    * nested column in one call — the reference's `nf.fillna(0)` hits both
    * layers at once (core.py:1351-1434 and its docstring example). Type
    * discipline follows Spark's `na.fill`: a numeric value touches only
    * numeric columns/fields, a string value only string ones; NULL nested
    * CELLS stay NULL (there is no element list to fill into). */
  def fillNaAll(df: DataFrame, value: Any): DataFrame = {
    def matches(dt: DataType): Boolean = value match {
      case _: java.lang.Number => dt.isInstanceOf[NumericType]
      case _: String => dt.isInstanceOf[StringType]
      case _: java.lang.Boolean => dt.isInstanceOf[BooleanType]
      case _ => throw new IllegalArgumentException(
        s"fillNaAll supports numeric, string, or boolean values, got $value")
    }
    val base = value match {
      case n: java.lang.Number => df.na.fill(n.doubleValue())
      case s: String => df.na.fill(s)
      case b: java.lang.Boolean => df.na.fill(b)
    }
    nestedColumns(df).foldLeft(base) { (acc, nest) =>
      val fields = nestedStruct(df, nest).fields
        .collect { case f if matches(f.dataType) => f }
      if (fields.isEmpty) acc
      else acc.withColumn(nest, transform(col(nest), s =>
        fields.foldLeft(s) { (e, f) =>
          // cast the fill to the FIELD's type — na.fill truncates 1.5 → 1
          // in integral base columns; the nested layer must agree (and the
          // field's schema must not silently widen to double)
          e.withField(f.name,
            coalesce(s.getField(f.name), lit(value).cast(f.dataType)))
        }))
    }
  }

  // ---------------------------------------------------------------------------
  // Mutation (reference: core.py:284-344, accessor.py set_* / drop)
  // ---------------------------------------------------------------------------

  /** Replace/add a field inside each element: `f` receives the element struct
    * and returns the new field value; it may also close over base columns of
    * the row (broadcast-per-row semantics of the reference's aligned-Series
    * assignment, core.py:284-340). Narrow `transform` + `withField`. */
  def withNestedField(df: DataFrame, nest: String, field: String,
                      f: Column => Column): DataFrame =
    df.withColumn(nest, transform(col(nest), s => s.withField(field, f(s))))

  /** [[withNestedField]] with the reference's `keep_dtype=True` contract
    * (ext_array.py set_flat_field/set_list_field; test_ext_array.py:
    * 1756-1790, 1894-1928): the field must already exist and the new
    * values must keep its exact type — otherwise raise instead of silently
    * widening the schema. Driver-side schema check only; no extra jobs. */
  def withNestedFieldKeepDtype(df: DataFrame, nest: String, field: String,
                               f: Column => Column): DataFrame = {
    val before = nestedStruct(df, nest).fields.find(_.name == field)
      .getOrElse(throw new IllegalArgumentException(
        s"keepDtype: field '$field' does not exist in nested column '$nest'"))
    val out = withNestedField(df, nest, field, f)
    val after = nestedStruct(out, nest)(field)
    require(after.dataType == before.dataType,
      s"keepDtype: field '$field' of '$nest' would change type " +
        s"${before.dataType.simpleString} -> ${after.dataType.simpleString}")
    out
  }

  /** Set a nested field to a constant (reference `set_filled_column`,
    * accessor.py:236-491). */
  def withNestedFieldFilled(df: DataFrame, nest: String, field: String,
                            value: Column): DataFrame =
    withNestedField(df, nest, field, _ => value)

  /** Set a nested field from a SEPARATE aligned list column of the same row
    * (reference `set_list_column`, accessor.py:236-491): element i of the
    * list becomes field `field` of element i of the nest.
    *
    * `strict` (default, matching the reference's ValueError on a length
    * mismatch — test_ext_array.py:1877-1892): a non-NULL list whose length
    * differs from the cell's raises at execution, and so does a NULL list
    * against a non-NULL cell (the reference rejects a None entry the same
    * way — set_list fuzz family, executed 2026-08-15). A narrow per-row
    * size compare — no shuffle, no validation pass. `strict = false`
    * restores the permissive form (short or NULL list → NULL field values
    * beyond its end). */
  def withNestedFieldFromList(df: DataFrame, nest: String, field: String,
                              listCol: String,
                              strict: Boolean = true): DataFrame = {
    // the reference's set_list_field raises for a non-list input
    // (test_ext_array.py:1862-1875)
    require(df.schema(listCol).dataType.isInstanceOf[ArrayType],
      s"set_list_column('$field'): source column '$listCol' is " +
        s"${df.schema(listCol).dataType.simpleString}, not a list")
    // try_element_at: plain element_at THROWS past the array end in
    // Spark 4 — the permissive branch must NULL-fill instead
    val body = transform(col(nest), (s, i) =>
      s.withField(field, try_element_at(col(listCol), i + 1)))
    if (!strict) df.withColumn(nest, body)
    else df.withColumn(nest,
      when(col(nest).isNull ||
        size(col(listCol)) === size(col(nest)), body)
        .otherwise(raise_error(concat(
          lit(s"set_list_column('$field'): list length "),
          coalesce(size(col(listCol)).cast("string"), lit("NULL")),
          lit(" != cell length "), size(col(nest)).cast("string")))))
  }

  /** Set a nested field from an EXTERNAL FLAT frame of per-element values —
    * the reference's `set_flat_column` flat-series form (accessor.py:236-491,
    * ext_array.py:1072-1122), where the values arrive as one row per element
    * rather than as an aligned list column.
    *
    * `flat` must carry the base key columns plus an element ordinal `idxCol`
    * (0-based within the cell — the reference aligns on `get_list_index()`)
    * and the value in `valueCol`. Plan: group `flat` into a per-key
    * idx-keyed MAP (one shuffle of the SLIM (key, idx, value) frame only —
    * the nest itself is never exploded or reshuffled), equi-join on the key,
    * then a narrow per-element map lookup. The map (not a positional array)
    * keeps alignment correct when the flat frame is SPARSE: elements without
    * a matching (key, idx) row get a NULL field value, never a value shifted
    * up from a later ordinal. Duplicate (key, idx) rows raise (Spark's map
    * key dedup policy). NULL cells stay NULL. */
  def setFlatColumnFrom(df: DataFrame, nest: String, field: String,
                        flat: DataFrame, keyCols: Seq[String],
                        idxCol: String = "idx",
                        valueCol: String = "value"): DataFrame = {
    val packed = flat
      .groupBy(keyCols.map(col): _*)
      .agg(map_from_entries(collect_list(struct(
        col(idxCol).cast("long").as("i"), col(valueCol).as("v"))))
        .as("__fv"))
    df.join(packed, keyCols, "left")
      .withColumn(nest, transform(col(nest), (s, i) =>
        // try_element_at: NULL (never an error) for a missing ordinal
        s.withField(field, try_element_at(col("__fv"), i.cast("long")))))
      .drop("__fv")
  }

  /** Drop fields from a nested column (≥1 must remain, like
    * ext_array.py:1229-1230; missing fields raise, like accessor drop —
    * tests/series/test_accessor.py:517-548). Reference: `.nest.drop`
    * (accessor.py:528-562). */
  /** Mapping-protocol tail of the `.nest` accessor (reference
    * accessor.py:841-857): iterate field names, count them, compare two
    * frames' nests, and the deliberately-unsupported `clear()`. */
  def nestFieldIterator(df: DataFrame, nest: String): Iterator[String] =
    subColumns(df, nest).iterator

  def nestNumFields(df: DataFrame, nest: String): Int =
    subColumns(df, nest).length

  /** Accessor equality — the reference's `__eq__` (same accessor type +
    * underlying series equality): true iff both frames' `nest` columns
    * have the same struct schema (nullability-insensitive — the reference
    * compares VALUES, and Spark constructors disagree on nullable flags
    * for identical data) AND the same multiset of (key, cell) values.
    * Pass `on` key columns for the reference's index-ALIGNED comparison —
    * without keys, swapping two rows' cells would compare equal (a frame
    * has no index). Distributed: one symmetric exceptAll (no collect);
    * schema mismatch short-circuits without touching data. */
  def nestEquals(a: DataFrame, b: DataFrame, nest: String,
                 on: Seq[String] = Nil): Boolean = {
    val sa = a.schema(nest).dataType
    val sb = b.schema(nest).dataType
    sa.catalogString == sb.catalogString && {
      val cols = (on :+ nest).map(col)
      val av = a.select(cols: _*)
      val bv = b.select(cols: _*)
      av.exceptAll(bv).isEmpty && bv.exceptAll(av).isEmpty
    }
  }

  /** `field in nf[nest].nest` — the reference's `__contains__`. */
  def nestContains(df: DataFrame, nest: String, field: String): Boolean =
    subColumns(df, nest).contains(field)

  /** Mapping-protocol `get(field, default)` (reference accessor
    * test_accessor.py:673-686): the per-row LIST column when the field
    * exists, else None — the caller supplies its own default. */
  def nestGet(df: DataFrame, nest: String, field: String): Option[Column] =
    if (nestContains(df, nest, field)) Some(col(s"$nest.$field")) else None

  /** `keys()` / `values()` / `items()` of the MutableMapping protocol:
    * keys are field names; values/items pair each with its per-row LIST
    * Series (the reference's `get_list_series`), here the list column
    * `nest.field`. */
  def nestKeys(df: DataFrame, nest: String): Seq[String] =
    subColumns(df, nest)

  def nestValues(df: DataFrame, nest: String): Seq[Column] =
    subColumns(df, nest).map(f => col(s"$nest.$f"))

  def nestItems(df: DataFrame, nest: String): Seq[(String, Column)] =
    subColumns(df, nest).map(f => f -> col(s"$nest.$f"))

  /** The reference's mandatory-but-unsupported MutableMapping `clear()`:
    * a nested column cannot exist with zero fields (the same ≥1-field
    * invariant [[dropNestedFields]] enforces), so this always throws.
    * `popitem`/`setdefault`/`update` throw for the same reason in the
    * reference (accessor.py:841-857) — use [[dropNestedFields]] /
    * [[withNestedField]] for the supported mutations. */
  def clearNestedFields(df: DataFrame, nest: String): Nothing =
    throw new UnsupportedOperationException(
      s"Cannot delete all fields from nested column '$nest'")

  def dropNestedFields(df: DataFrame, nest: String, fields: Seq[String]): DataFrame = {
    val existing = subColumns(df, nest)
    val missing = fields.filterNot(existing.contains)
    require(missing.isEmpty,
      s"No fields ${missing.mkString(", ")} in nested column '$nest' " +
        s"(has: ${existing.mkString(", ")})")
    val remaining = existing.filterNot(fields.contains)
    require(remaining.nonEmpty, s"Cannot drop all fields of nested column '$nest'")
    selectSubFields(df, nest, remaining)
  }

  /** Drop base columns and/or dotted nested sub-columns in one call.
    * Unknown names raise (the reference's KeyError, core.py:745-858) —
    * Spark's own `drop` silently ignores them. */
  def dropColumns(df: DataFrame, names: Seq[String]): DataFrame = {
    val (dotted, base) = names.partition(n => resolveDotted(df, n)._1.isDefined)
    val unknown = base.filterNot(df.columns.contains)
    require(unknown.isEmpty,
      s"No columns ${unknown.mkString(", ")} in frame " +
        s"(has: ${allColumns(df).mkString(", ")})")
    val byNest = dotted.groupBy(n => resolveDotted(df, n)._1.get)
    val afterNested = byNest.foldLeft(df) { case (acc, (nest, ns)) =>
      dropNestedFields(acc, nest, ns.map(n => resolveDotted(df, n)._2))
    }
    if (base.nonEmpty) afterNested.drop(base: _*) else afterNested
  }

  /** Combine several SINGLE-or-multi-field nested columns into one nest
    * whose fields are the union of theirs, element-aligned (the
    * reference's `nf["nested"] = nf[["c", "d"]]` multi-nest assignment,
    * test_nestedframe.py test_set_item_combine_nested). Cells must be
    * equal length per row — `arrays_zip` NULL-pads a shorter cell, which
    * would silently misalign, so lengths are asserted per row. Narrow op
    * (one transform, zero shuffle). */
  def zipNests(df: DataFrame, nests: Seq[String], name: String,
               dropSource: Boolean = true): DataFrame = {
    require(nests.nonEmpty, "zipNests needs at least one source nest")
    val dup = nests.flatMap(n => subColumns(df, n))
      .groupBy(identity).collect { case (f, vs) if vs.size > 1 => f }
    require(dup.isEmpty,
      s"zipNests: duplicate field names across sources: ${dup.mkString(", ")}")
    val zipped = arrays_zip(nests.map(col): _*)
    val fields = nests.flatMap(n =>
      subColumns(df, n).map(f => (n, f)))
    val merged = transform(zipped, s =>
      struct(fields.map { case (n, f) =>
        s.getField(n).getField(f).as(f) }: _*))
    val guarded = sizeAlignedOrRaise(nests, merged,
      s"zipNests: cell lengths differ across ${nests.mkString(", ")}")
    val out = df.withColumn(name, guarded)
    if (dropSource) out.drop(nests.filterNot(_ == name): _*) else out
  }

  /** Positional row selection with pandas `ExtensionArray.take` semantics
    * (reference test_ext_array.py:1100-1178): rows are addressed by their
    * value in `orderCol` — a dense 0-based position column the CALLER
    * provides, because distributed rows carry no implicit position — and
    * returned in `indices` order (the result is sorted by take position).
    *
    *  - allowFill=false: negative indices wrap python-style from the end.
    *  - allowFill=true: only -1 is a legal negative index and yields an
    *    all-NULL row, or the caller's `fillRow` values when provided (the
    *    reference's `fill_value` row).
    *  - any index out of bounds raises (IndexError in the reference),
    *    including on an empty frame with non-empty indices. Negative
    *    indices are validated eagerly (wrapping already requires the frame
    *    length); non-negative out-of-bounds indices raise at EXECUTION
    *    time via the join-miss guard — the Spark-lazy analog — so
    *    building a take plan runs no job on the common all-non-negative
    *    path.
    *
    * Scale shape: `indices` is a driver-side argument by contract (takes
    * are small reorderings, not data-sized scans), so the index frame
    * broadcast-joins against one pass of the input — no shuffle of df. */
  def takeRows(df: DataFrame, orderCol: String, indices: Seq[Long],
               allowFill: Boolean = false,
               fillRow: Map[String, Column] = Map.empty): DataFrame = {
    // count() is a full job: run it ONLY when a negative index needs
    // python-style wrapping (impossible without the length).
    lazy val n = df.count()
    val resolved: Seq[Long] = indices.map { i =>
      if (allowFill) {
        if (i == -1L) -1L
        else if (i < 0L) throw new IndexOutOfBoundsException(
          s"take: negative index $i with allowFill=true (only -1 allowed)")
        else i
      } else if (i < 0L) {
        val j = n + i
        if (j < 0L || j >= n) throw new IndexOutOfBoundsException(
          s"take: index $i out of bounds for length $n")
        j
      } else i
    }
    val spark = df.sparkSession
    import spark.implicits._
    val idx = resolved.zipWithIndex
      .map { case (j, pos) => (pos.toLong, j) }.toDF("__pos", "__idx")
    val joined = org.apache.spark.sql.functions.broadcast(idx)
      .join(df, idx("__idx") === df(orderCol), "left")
      // fail-loud out of bounds WITHOUT a count job: a non-fill index that
      // matched no row (orderCol is the caller's dense never-null position
      // column, so a NULL here is a join miss) is out of bounds.
      // assert_true yields NULL on pass — the filter keeps every row that
      // doesn't raise, and being a Filter condition it cannot be pruned.
      .where(assert_true(col("__idx") === -1L || df(orderCol).isNotNull,
        concat(lit("take: index "), col("__idx"),
          lit(" out of bounds"))).isNull)
    val filled =
      if (fillRow.isEmpty) joined
      else fillRow.foldLeft(joined) { case (acc, (c, v)) =>
        acc.withColumn(c, when(col("__idx") === -1L, v).otherwise(col(c)))
      }
    filled.orderBy(col("__pos")).drop("__idx", "__pos")
  }

  // ---------------------------------------------------------------------------
  // Reshaping (reference: core.py explode/split, accessor.py to_flatten_inner)
  // ---------------------------------------------------------------------------

  /** Explode a nested column to one row per element, keeping all base columns.
    * Reference: `NestedFrame.explode` (core.py:1221-1349). */
  def explodeNested(df: DataFrame, nest: String,
                    keepEmpty: Boolean = false): DataFrame = {
    val base = df.columns.filterNot(_ == nest).toSeq
    if (keepEmpty) df.select(base.map(col) :+ inline_outer(col(nest)): _*)
    else {
      // posexplode_outer + pos filter ≡ inline, minus the
      // InferFiltersFromGenerate duplication of a computed cell — see
      // [[toFlat]].
      val fieldList = subColumns(df, nest)
      df.select(base.map(col) :+
          posexplode_outer(col(nest)).as(Seq("__graft_gpos", "__graft_gelem")): _*)
        .where(col("__graft_gpos").isNotNull)
        .select(base.map(col) ++
          fieldList.map(f => col("__graft_gelem").getField(f).as(f)): _*)
    }
  }

  /** Split one nest into `{nest}_{value}` nests by the values of a categorical
    * field. Reference: `NestedFrame.split` (core.py:860-947).
    * `values` should be supplied for large domains (collecting distinct values
    * is a driver action); when given, the op is fully narrow. */
  def splitNested(df: DataFrame, nest: String, byField: String,
                  values: Seq[String], dropField: Boolean = false,
                  dropSource: Boolean = true,
                  naSplit: Boolean = false): DataFrame = {
    val withSplits = values.foldLeft(df) { (acc, v) =>
      val filtered = filter(col(nest), s => s.getField(byField) === lit(v))
      val cleaned =
        if (dropField) transform(filtered, s => s.dropFields(byField))
        else filtered
      // a key with NO elements of this value gets a NULL cell, not an
      // empty array — the reference repacks the filtered flat rep, so
      // absent keys come back missing (r9 op-fuzzer vs executed
      // reference; same rule as query's emptied cells)
      acc.withColumn(s"${nest}_$v", when(size(cleaned) > 0, cleaned))
    }
    // NA by-values produce a `<NA>`-named split whose cells are ALL
    // MISSING: the reference filters with `value == NA`, which matches
    // nothing, so the column exists but every cell repacks to None
    // (r9 op-fuzzer + probe vs the executed reference). Its TYPE must
    // track dropField like the value splits' schemas do.
    val naType = df.schema(nest).dataType match {
      case ArrayType(s: StructType, n) if dropField =>
        ArrayType(StructType(s.fields.filterNot(_.name == byField)), n)
      case dt => dt
    }
    val withNa =
      if (!naSplit) withSplits
      else withSplits.withColumn(s"${nest}_<NA>", lit(null).cast(naType))
    if (dropSource) withNa.drop(nest) else withNa
  }

  /** splitNested with values discovered from the data (a driver-side
    * distinct over the exploded field — use the explicit-values overload for
    * large domains at scale; reference collects uniques the same way,
    * core.py:860-947). */
  def splitNestedAuto(df: DataFrame, nest: String, byField: String,
                      dropField: Boolean = false,
                      dropSource: Boolean = true): DataFrame = {
    val distinctVals = df
      .select(explode(col(s"$nest.$byField")).as("v"))
      .distinct().orderBy("v")
      .collect().map(r => if (r.isNullAt(0)) null else r.get(0).toString)
      .toSeq
    val values = distinctVals.filter(_ != null)
    // NA among the by-values → the reference also emits a `<NA>` split
    // (always-missing cells; see splitNested.naSplit)
    splitNested(df, nest, byField, values, dropField, dropSource,
      naSplit = distinctVals.contains(null))
  }

  /** Build a one-column nested frame from local per-row sequences
    * (reference `pack_seq`, series/packer.py:120-154): each element of `rows`
    * is (key, Seq of element-tuples), NULL cell for None. Local-data
    * constructor — for tests and small lookup tables, not a scale path. */
  def packSeq[A <: Product : scala.reflect.runtime.universe.TypeTag](
      spark: org.apache.spark.sql.SparkSession,
      rows: Seq[(Long, Option[Seq[A]])], name: String = "nested"): DataFrame = {
    import spark.implicits._
    rows.toDF("key", name)
  }

  /** sort_values with layer dispatch (reference core.py:1851-1975): base
    * column keys → row sort; dotted keys of ONE nest → within-cell element
    * sort; mixing layers is rejected like the reference (core.py:1926-1928).
    *
    * `naPosition`: `None` keeps the engine default null ordering (nulls
    * first ascending / last descending); `Some("first")`/`Some("last")`
    * force pandas `na_position=` placement on every key, both layers.
    * The reference's `kind=` (quicksort/mergesort) has no Spark analog —
    * stability is obtained by supplying a total key order instead. */
  def sortValues(df: DataFrame, by: Seq[(String, Boolean)],
                 naPosition: Option[String] = None): DataFrame = {
    val resolved = by.map { case (name, asc) =>
      (resolveDotted(df, name), asc)
    }
    val nests = resolved.collect { case ((Some(n), _), _) => n }.toSet
    if (nests.isEmpty)
      df.orderBy(resolved.map { case ((_, c), asc) =>
        // NaN sorts as NA like pandas (Spark would order it LARGEST) —
        // rewrite floating keys so na_position governs NaN rows too
        val k = df.schema(c).dataType match {
          case DoubleType | FloatType =>
            when(isnan(col(c)), lit(null)).otherwise(col(c))
          case _ => col(c)
        }
        (asc, naPosition) match {
          case (true,  None)          => k.asc
          case (false, None)          => k.desc
          case (true,  Some("first")) => k.asc_nulls_first
          case (true,  Some("last"))  => k.asc_nulls_last
          case (false, Some("first")) => k.desc_nulls_first
          case (false, Some("last"))  => k.desc_nulls_last
          case (_, Some(other)) => throw new IllegalArgumentException(
            s"na_position must be 'first' or 'last', got '$other'")
        }
      }: _*)
    else {
      require(nests.size == 1 && !resolved.exists(_._1._1.isEmpty),
        s"sort_values keys must target one layer; got nests=$nests plus base keys")
      sortElements(df, nests.head,
        resolved.map { case ((_, f), asc) => (f, asc) }, naPosition)
    }
  }

  /** Flatten a doubly-nested field one level up: each outer element is
    * replicated per inner element, inner fields hoisted.
    * Reference: `.nest.to_flatten_inner` (accessor.py:859-986) — the one
    * multi-level operator. Narrow (flatten ∘ transform). */
  def flattenInner(df: DataFrame, nest: String, innerField: String): DataFrame = {
    val outerFields = subColumns(df, nest).filterNot(_ == innerField)
    val innerStruct = nestedStruct(df, nest)(innerField).dataType match {
      case ArrayType(s: StructType, _) => s
      case other => throw new IllegalArgumentException(
        s"Field '$innerField' of '$nest' is not array<struct>: $other")
    }
    val innerFields = innerStruct.fieldNames.toSeq
    // An outer element whose inner nest is NULL or EMPTY contributes ONE
    // row carrying its outer fields with NULL inner fields — pandas
    // explode semantics, verified by EXECUTING the reference (r9
    // flatten_inner fuzz family). Until r9 this dropped such elements,
    // citing the reference's empty/none tests — which only assert
    // no-crash (`_actual` unused), another hand-ported assumption the
    // executed reference overturned.
    def row(o: Column, i: Option[Column]): Column =
      struct(outerFields.map(f => o.getField(f).as(f)) ++
        innerFields.map { f =>
          i.map(_.getField(f))
            .getOrElse(lit(null).cast(innerStruct(f).dataType)).as(f)
        }: _*)
    df.withColumn(nest,
      flatten(transform(col(nest), o => {
        val expanded = transform(o.getField(innerField), i => row(o, Some(i)))
        // gate on the RAW inner size (== size(expanded) by construction):
        // sizing the transform itself would re-run the struct-building
        // lambda per row (no CSE through HOF lambdas)
        when(coalesce(size(o.getField(innerField)), lit(0)) > 0, expanded)
          .otherwise(array(row(o, None)))
      })))
  }

  // ---------------------------------------------------------------------------
  // Within-cell sort (reference: core.py:1943-1975 sort_values nested target)
  // ---------------------------------------------------------------------------

  /** Sort elements within each nested cell by one or more (field, ascending)
    * keys, mixed directions supported. Reference guarantees the row index stays
    * the outer sort key (core.py:1949-1956); here rows are untouched.
    * Narrow [[CellOrder]] sort — one native `sort_array` per cell, ties in
    * element order — no explode/shuffle. */
  def sortElements(df: DataFrame, nest: String,
                   keys: Seq[(String, Boolean)],
                   naPosition: Option[String] = None): DataFrame = {
    val elem = nestedStruct(df, nest)
    df.withColumn(nest, new CellOrder(elem, keys, elem.fieldNames.toSeq,
      naPosition).sortInPlace(col(nest)))
  }

  // ---------------------------------------------------------------------------
  // Aggregations (reference: core.py min/max/describe, utils/utils.py count_nested)
  // ---------------------------------------------------------------------------

  /** Per-row count of elements, optionally one count column per value of a
    * categorical field. Reference: `count_nested` (utils/utils.py:8-102).
    * All counts are narrow `size(filter(...))` expressions — the per-row
    * "group-by/pivot" of the reference costs no shuffle here.
    *
    * NULL by-values: like the reference (GH#494), the first count column
    * RAISES when an element's by-field is null, so nulls are reported
    * rather than silently dropped; pass `dropNa = true` to ignore them.
    * The guard is a narrow per-row predicate (no validation scan). */
  def countNested(df: DataFrame, nest: String, by: Option[String] = None,
                  values: Seq[String] = Nil,
                  dropNa: Boolean = false): DataFrame = by match {
    case None => df.withColumn(s"n_$nest", coalesce(size(col(nest)), lit(0)))
    case Some(field) =>
      // native kernel loops where the by-field is a string (the common
      // case): one compiled pass per (row, value) instead of an
      // interpreted filter lambda — identical counts (see FieldReduceSpec)
      val isStr = nestedStruct(df, nest)(field).dataType
        .isInstanceOf[org.apache.spark.sql.types.StringType]
      val nullsIn =
        if (isStr)
          graft.expressions.native.field_reduce(col(nest), field, "nullcount")
        else size(filter(col(nest), s => s.getField(field).isNull))
      val noNulls = !coalesce(nullsIn > 0, lit(false))
      def guard(c: Column): Column =
        if (dropNa) c
        else when(assert_true(noNulls,
          lit(s"count_nested: null values in by-column '$field' " +
            "(pass dropNa = true to ignore them)")).isNull, c)
      values.zipWithIndex.foldLeft(df) { case (acc, (v, i)) =>
        val raw =
          if (isStr) graft.expressions.native.field_counteq(col(nest), field, v)
          else size(filter(col(nest), s => s.getField(field) === lit(v)))
        val cnt = coalesce(raw, lit(0))
        acc.withColumn(s"n_${nest}_$v", if (i == 0) guard(cnt) else cnt)
      }
  }

  /** countNested with by-values discovered from the data (driver-side
    * distinct, like [[splitNestedAuto]] — use explicit `values` for large
    * domains at scale). */
  def countNestedAuto(df: DataFrame, nest: String, by: String,
                      dropNa: Boolean = false): DataFrame = {
    val values = df.select(explode(col(s"$nest.$by")).as("v"))
      .where(col("v").isNotNull)
      .distinct().orderBy("v")
      .collect().map(_.get(0).toString).toSeq
    countNested(df, nest, Some(by), values, dropNa)
  }

  /** Column-wise min/max over base columns and nested fields (dotted names).
    * Reference: `NestedFrame.min/max` (core.py:949-1097) incl. its flags:
    * `excludeNest` restricts to base columns; `numericOnly` keeps only
    * numeric/boolean columns (default includes strings, which minimize
    * lexicographically — Spark's native string min/max); `skipna = false`
    * is pandas NA propagation — a column with ANY null/NaN value (element
    * nulls for nested fields; MISSING cells contribute no elements and
    * don't count, matching the reference's flat-array reduction) yields
    * NULL. One global agg either way. */
  def aggAllColumns(df: DataFrame, fn: String, excludeNest: Boolean = false,
                    numericOnly: Boolean = false,
                    skipNa: Boolean = true): DataFrame = {
    def scalarAgg(c: Column) = fn match {
      case "min" => min(c); case "max" => max(c)
      case other => throw new IllegalArgumentException(s"unsupported: $other")
    }
    def isNa(c: Column, dt: DataType): Column = dt match {
      case DoubleType | FloatType => c.isNull || isnan(c)
      case _                      => c.isNull
    }
    // pandas skipna=true skips real NaN values too; Spark min/max ORDER
    // NaN (as the largest double), so NaN must become NULL on the
    // default path or a single NaN value hijacks every max()
    def naToNull(c: Column, dt: DataType): Column = dt match {
      case DoubleType | FloatType => when(isnan(c), lit(null)).otherwise(c)
      case _                      => c
    }
    def guarded(agg: Column, anyNa: Column): Column =
      if (skipNa) agg else when(!anyNa, agg)
    def baseAgg(c: Column, dt: DataType) =
      guarded(scalarAgg(naToNull(c, dt)), max(isNa(c, dt)))
    def arrayAgg(c: Column, dt: DataType, field: String) = {
      // per-row piece is a native kernel loop (StructFieldReduce):
      // minskipnan/maxskipnan == array_min/array_max AFTER the NaN→NULL
      // rewrite (pandas skipna); nacount>0 == exists(isNa) — identical
      // values, one compiled pass instead of 2-3 interpreted lambdas
      val agg = fn match {
        case "min" => min(graft.expressions.native.field_reduce(c, field, "minskipnan"))
        case "max" => max(graft.expressions.native.field_reduce(c, field, "maxskipnan"))
      }
      guarded(agg, max(coalesce(
        graft.expressions.native.field_reduce(c, field, "nacount") > 0,
        lit(false))))
    }
    def keep(dt: DataType): Boolean = dt match {
      case _: NumericType | BooleanType => true
      case _                            => !numericOnly
    }
    val aggs = df.schema.fields.toSeq.flatMap { f =>
      f.dataType match {
        case ArrayType(s: StructType, _) if excludeNest => Nil
        case ArrayType(s: StructType, _) =>
          s.fields.toSeq.collect {
            case sf if keep(sf.dataType) =>
              arrayAgg(col(f.name), sf.dataType, sf.name)
                .as(s"${f.name}.${sf.name}")
          }
        case dt if keep(dt) => Seq(baseAgg(col(f.name), dt).as(f.name))
        case _              => Nil
      }
    }
    require(aggs.nonEmpty, "No columns left to aggregate after filtering")
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Mean of a numeric nested field per row, as a Column. NULL for NULL/empty
    * cells. Codegen-friendly `aggregate` HOF — the fused replacement for the
    * reference's `map_rows(np.mean, "nested.f")` hot path (core.py:2207-2545). */
  def elementMean(nest: String, field: String): Column =
    // native kernel loop (StructFieldReduce): the single-fold HOF form
    // still paid interpreted per-element lambda evaluation; the kernel
    // accumulates (n, Σ) over the same non-null elements in the same
    // order (bit-identical), same NULL/empty semantics.
    graft.expressions.native.field_reduce(col(nest), field, "mean")

  /** Sum of a numeric nested field per row (0.0 for empty, NULL for NULL cell).
    * Native kernel: fold 0.0 + coalesce(v, 0.0) in element order —
    * bit-identical to the HOF fold it replaces. */
  def elementSum(nest: String, field: String): Column =
    graft.expressions.native.field_reduce(col(nest), field, "esum")

  /** Min/max of a nested field per row (array_min/array_max semantics:
    * nulls skipped, NaN greatest, empty/all-null → NULL). */
  def elementMin(nest: String, field: String): Column =
    graft.expressions.native.field_reduce(col(nest), field, "min")
  def elementMax(nest: String, field: String): Column =
    graft.expressions.native.field_reduce(col(nest), field, "max")

  /** Explode SEVERAL aligned array/nested columns together, one output row
    * per position (lengths must match — reference `NestedFrame.explode`
    * multi-column mode, core.py:1221-1349). `arrays_zip` + one `inline`:
    * a single generator, not N chained explodes.
    *
    * Mismatched per-row lengths RAISE like the reference's "different
    * element counts" ValueError (a bare `arrays_zip` would silently
    * NULL-pad the shorter side) — and so does a row where only SOME of
    * the columns are NULL; all-NULL rows stay missing (keepEmpty emits
    * their one all-NULL row, the reference's NaN row). Executed-parity:
    * explode_multi fuzz family, 2026-08-15. */
  def explodeAligned(df: DataFrame, cols: Seq[String],
                     keepEmpty: Boolean = false): DataFrame = {
    val base = df.columns.filterNot(cols.contains).toSeq
    val zipped = sizeAlignedOrRaise(cols, arrays_zip(cols.map(col): _*),
      s"explode: cell lengths differ across ${cols.mkString(", ")}")
    // posexplode_outer + pos filter ≡ inline for the computed (guarded,
    // zipped) cell — see [[toFlat]] for why inline would re-evaluate it
    // 3x per row through InferFiltersFromGenerate.
    val exploded =
      if (keepEmpty) df.select(base.map(col) :+ inline_outer(zipped): _*)
      else df.select(base.map(col) :+
          posexplode_outer(zipped).as(Seq("__graft_gpos", "__graft_gelem")): _*)
        .where(col("__graft_gpos").isNotNull)
        .select(base.map(col) ++
          cols.map(c => col(s"__graft_gelem.$c").as(c)): _*)
    // arrays_zip names struct fields after the source columns; nested
    // (struct-element) sources surface as structs — flatten them to fields.
    cols.foldLeft(exploded) { (d, c) =>
      d.schema(c).dataType match {
        case s: StructType =>
          val flat = s.fieldNames.toSeq.map(f => col(s"$c.$f").as(f))
          d.select(d.columns.filterNot(_ == c).toSeq.map(col) ++ flat: _*)
        case _ => d
      }
    }
  }

  /** Per-element ordinal within each cell, as field `idx` (reference
    * `get_list_index`, ext_array.py:1021-1027 — the alignment key). */
  def withElementIndex(df: DataFrame, nest: String,
                       idxField: String = "idx"): DataFrame =
    df.withColumn(nest, transform(col(nest), (s, i) =>
      s.withField(idxField, i.cast("long"))))

  /** describe: count / mean / std / min / percentiles / max for every numeric
    * base column and nested numeric field (reference `NestedFrame.describe`,
    * core.py:1099-1219, incl. `percentiles=`, `exclude_nest=`, and the
    * `include=`/`exclude=` dtype filters).
    *
    * `include`/`exclude` select columns by type name — a Spark
    * `DataType.simpleString` ("double", "bigint", "int", …) or the group
    * alias "number" (any numeric type, the analog of the reference's
    * `np.number`). `include = None` keeps the default numeric-only
    * selection; these filters choose WHICH numeric columns participate
    * (the reference's object-dtype describe block is the separate
    * [[describeNonNumeric]]). Like the reference, an empty selection
    * raises rather than returning an empty frame.
    *
    * Long format (column, stat, value). ONE aggregate per LAYER — all columns
    * of a layer share a single scan/agg (N columns used to cost N scans),
    * which at 100 TB is the difference between 1 job and N jobs.
    *
    * `approx = false` (default): exact percentiles with pandas
    * interpolation — right for oracle parity and anything that fits a
    * sort-based exact aggregate. `approx = true`: the 100 TB path —
    * `percentile_approx` (Greenwald-Khanna sketch, mergeable, bounded
    * memory per partition instead of collecting every value per group);
    * `approxAccuracy` bounds the RANK error at ±1/accuracy of the value
    * count (default 10000 → ±0.01% of ranks), values are always members
    * of the column (no interpolation). count/mean/std/min/max are exact
    * either way.
    *
    * The exact-percentile CLIFF guard (`exactRowLimit`, VERDICT r9 item 5):
    * exact `percentile` buffers a whole layer's values in ONE aggregation
    * buffer — DescribeProbe measured 373.7s/OOM-prone at just 5M rows vs
    * 8.3s approx (SCALING.md). When `approx = false`, each layer is
    * pre-counted and a layer above the limit is
    * auto-routed to `percentile_approx` with a WARN log (NOTE: the
    * pre-count replays the layer's UPSTREAM plan — over an expensive
    * uncached pipeline that is a second full pass; cache the input or
    * pass `exactRowLimit = Long.MaxValue` when exact is known safe, as
    * the oracle queries do); exact stays the
    * default at oracle scale. `exactRowLimit = Long.MaxValue` disables the
    * guard (forced exact). */
  def describeAll(df: DataFrame,
                  percentiles: Seq[Double] = Seq(0.25, 0.5, 0.75),
                  excludeNest: Boolean = false,
                  include: Option[Seq[String]] = None,
                  exclude: Seq[String] = Nil,
                  approx: Boolean = false,
                  approxAccuracy: Int = 10000,
                  exactRowLimit: Long = 2000000L): DataFrame = {
    require(percentiles.forall(p => p >= 0 && p <= 1),
      s"percentiles must be in [0,1]: $percentiles")
    // pandas always includes the median and sorts ascending, even when
    // 0.5 is not requested (describe(percentiles=[.1,.9]) yields
    // 10%/50%/90% — r9 executed probe; format_percentiles contract)
    val pcts = (percentiles :+ 0.5).distinct.sorted
    def typeNames(dt: DataType): Set[String] = dt match {
      case _: NumericType => Set(dt.simpleString, "number")
      case _              => Set(dt.simpleString)
    }
    val numeric: DataType => Boolean = { dt =>
      val isNum = dt.isInstanceOf[NumericType]
      val inOk = include match {
        case None       => true
        case Some(incl) => incl.exists(typeNames(dt).contains)
      }
      isNum && inOk && !exclude.exists(typeNames(dt).contains)
    }
    // BigDecimal of the SHORTEST decimal repr, not of p*100: the double
    // product 0.29*100 is 28.999999999999996 and the label must be "29%"
    // (pandas format_percentiles; r9 describe fuzz)
    def pctName(p: Double): String =
      (BigDecimal(p.toString) * 100).underlying
        .stripTrailingZeros.toPlainString + "%"
    def bqn(n: String) = "`" + n.replace("`", "``") + "`"
    // layers whose percentiles the cliff guard routed to the sketch —
    // surfaced to callers as schema metadata on `value` (ADVICE r11:
    // a WARN line alone was too easy to miss for a value-changing switch)
    val routedLayers = collection.mutable.ArrayBuffer.empty[String]
    /** All stats for all `cols` of one layer in a single aggregate, then
      * exploded to (column, stat, value) rows. */
    def layerStats(src: DataFrame, cols: Seq[String],
                   prefix: String): Option[DataFrame] = {
      if (cols.isEmpty) None
      else {
        // cliff guard: an exact layer beyond exactRowLimit rows auto-routes
        // its percentiles to the sketch (count/mean/std/min/max stay exact).
        // The pre-count is SKIPPED when the optimizer already knows a row
        // count at or under the limit (local relations, range, limited
        // plans — ADVICE r11: no job just to clear a tiny frame).
        val staticallySmall =
          src.queryExecution.optimizedPlan.stats.rowCount
            .exists(_ <= BigInt(exactRowLimit))
        val useApprox = approx ||
          (pcts.nonEmpty && exactRowLimit != Long.MaxValue &&
            !staticallySmall && {
            val n = src.count()
            val over = n > exactRowLimit
            if (over) routedLayers += (if (prefix.isEmpty) "<base>" else prefix)
            if (over) org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"describe: layer '${if (prefix.isEmpty) "<base>" else prefix}' " +
                s"has $n rows > exactRowLimit=$exactRowLimit; exact " +
                s"percentile would buffer the whole layer in one aggregation " +
                s"buffer (OOM-prone — SCALING.md DescribeProbe). Routing " +
                s"percentiles to percentile_approx(accuracy=$approxAccuracy); " +
                s"pass approx=true explicitly or raise exactRowLimit to " +
                s"Long.MaxValue to override.")
            over
          })
        def a(c: String, stat: String) = s"__${c}__$stat"
        // pandas describe is skipna: a literal NaN is excluded from count
        // and every stat — rewrite NaN → NULL for floating columns (same
        // parity rule as aggAllColumns / the eval reductions, r9s5)
        def vs(c: String): String = src.schema(c).dataType match {
          case DoubleType | FloatType =>
            s"nanvl(${bqn(c)}, cast(null as double))"
          case _ => bqn(c)
        }
        // ALL percentiles of a column in ONE array-returning aggregate:
        // each separate percentile(c, p) call keeps its OWN copy of the
        // full value buffer (k percentiles = k buffers of every value of
        // the layer), while percentile(c, array(p1..pk)) shares one
        // buffer and one sort — identical values, k× less aggregation
        // state (same for the GK sketch on the approx path).
        val pctArray = s"array(${pcts.map(p => s"cast($p as double)")
          .mkString(", ")})"
        val aggs = cols.flatMap { c =>
          val vc = expr(vs(c))
          val pctExpr =
            if (useApprox)
              s"cast(percentile_approx(${vs(c)}, $pctArray, " +
                s"$approxAccuracy) as array<double>)"
            else s"percentile(${vs(c)}, $pctArray)"
          Seq(count(vc).cast("double").as(a(c, "count")),
              avg(vc).as(a(c, "mean")),
              stddev_samp(vc).as(a(c, "std")),
              min(vc).cast("double").as(a(c, "min")),
              max(vc).cast("double").as(a(c, "max")),
              expr(pctExpr).as(a(c, "pcts")))
        }
        // pandas stat order: count mean std min <percentiles> max
        val statNames = Seq("count", "mean", "std", "min") ++
          pcts.indices.map(i => s"pct$i") :+ "max"
        val entries = cols.flatMap { c =>
          statNames.map { sn =>
            val label = if (sn.startsWith("pct"))
              pctName(pcts(sn.drop(3).toInt)) else sn
            val value =
              if (sn.startsWith("pct"))
                element_at(col(a(c, "pcts")), sn.drop(3).toInt + 1)
              else col(a(c, sn))
            struct(lit(prefix + c).as("column"), lit(label).as("stat"),
              value.as("value"))
          }
        }
        Some(src.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(entries: _*)).as("e"))
          .select(col("e.column"), col("e.stat"), col("e.value")))
      }
    }
    val baseCols = df.schema.fields.toSeq.collect {
      case f if numeric(f.dataType) => f.name
    }
    val parts = layerStats(df, baseCols, "").toSeq ++ (
      if (excludeNest) Nil
      else df.schema.fields.toSeq.flatMap { f =>
        f.dataType match {
          case ArrayType(s: StructType, _) =>
            val fields = s.fields.toSeq.collect {
              case sf if numeric(sf.dataType) => sf.name
            }
            layerStats(df.select(inline(col(f.name))), fields, s"${f.name}.")
          case _ => None
        }
      })
    require(parts.nonEmpty, "describe: no numeric columns")
    val out = parts.reduce(_ unionAll _)
    if (routedLayers.isEmpty) out
    else {
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .putBoolean("graft.describe.approxPercentiles", true)
        .putStringArray("graft.describe.approxLayers", routedLayers.toArray)
        .build()
      out.withColumn("value", col("value").as("value", md))
    }
  }

  /** Non-numeric describe: count / unique / top / freq for every string base
    * column and nested string field (the reference's `describe(include=
    * 'all')` object-dtype block, core.py:1099-1219). Wide format, one row per
    * column: (column, cnt, n_unique, top, top_freq); `top` ties break to the
    * lexicographically smallest value (deterministic).
    *
    * Scale: all string columns of all layers unpivot into ONE (column, value)
    * frame — one shuffle on (column, value) + one on column, regardless of
    * how many columns are described. */
  def describeNonNumeric(df: DataFrame, excludeNest: Boolean = false)
      : DataFrame = {
    val stringy: DataType => Boolean = {
      case StringType => true
      case _          => false
    }
    // ONE pass over the frame: base-column pairs and every nested layer's
    // pairs concatenate into a single per-row array, exploded once — the
    // union-of-layers form re-executed the whole upstream plan once PER
    // LAYER (the pack pipeline of a 2-layer frame ran twice).
    val baseArrs: Seq[Column] = df.schema.fields.toSeq.collect {
      case f if stringy(f.dataType) =>
        array(struct(lit(f.name).as("column"),
          col(f.name).cast("string").as("value")))
    }
    val nestArrs: Seq[Column] =
      if (excludeNest) Nil
      else df.schema.fields.toSeq.flatMap { f =>
        f.dataType match {
          case ArrayType(s: StructType, _) =>
            s.fields.toSeq.collect {
              case sf if stringy(sf.dataType) =>
                // NULL cells contribute no pairs (a NULL array would void
                // the whole concat)
                coalesce(transform(col(f.name), e =>
                  struct(lit(s"${f.name}.${sf.name}").as("column"),
                    e.getField(sf.name).cast("string").as("value"))),
                  array().cast(ArrayType(StructType(Seq(
                    StructField("column", StringType, nullable = false),
                    StructField("value", StringType))))))
            }
          case _ => Nil
        }
      }
    val arrs = baseArrs ++ nestArrs
    require(arrs.nonEmpty, "describeNonNumeric: no string columns")
    val pairs = df
      .select(explode(
        if (arrs.size == 1) arrs.head else concat(arrs: _*)).as("e"))
      .select(col("e.column"), col("e.value"))
      .where(col("value").isNotNull)
    val counts = pairs.groupBy("column", "value")
      .agg(count(lit(1)).as("cnt"))
    // ONE aggregation for totals, uniques AND the mode: min_by over
    // (-cnt, value) picks the highest count with lexicographic tie-break —
    // the window + self-rejoin it replaces re-executed the whole unpivot.
    counts.groupBy("column")
      .agg(sum(col("cnt")).as("cnt"), count(lit(1)).as("n_unique"),
        min_by(struct(col("value"), col("cnt")),
          struct((-col("cnt")).as("nc"), col("value").as("v"))).as("__best"))
      .select(col("column"), col("cnt"), col("n_unique"),
        col("__best.value").as("top"), col("__best.cnt").as("top_freq"))
  }
}

/** Implicit syntax: `import graft.nested.syntax._` then `df.joinNested(...)`. */
object syntax {
  implicit class NestedDataFrameOps(val df: DataFrame) extends AnyVal {
    def nestedColumns: Seq[String] = NestedOps.nestedColumns(df)
    def baseColumns: Seq[String] = NestedOps.baseColumns(df)
    def subColumns(nest: String): Seq[String] = NestedOps.subColumns(df, nest)
    def allNestedColumns: Seq[String] = NestedOps.allColumns(df)

    def joinNested(child: DataFrame, on: Seq[String], name: String,
                   how: String = "left",
                   sortBy: Seq[(String, Boolean)] = Nil): DataFrame =
      NestedOps.joinNested(df, child, on, name, how, sortBy)
    def fromFlat(baseCols: Seq[String], nestedCols: Seq[String],
                 on: Seq[String], name: String = "nested",
                 sortBy: Seq[(String, Boolean)] = Nil): DataFrame =
      NestedOps.fromFlat(df, baseCols, nestedCols, on, name, sortBy)
    def fromLists(listCols: Seq[String], name: String = "nested"): DataFrame =
      NestedOps.fromLists(df, listCols, name)

    def toFlat(nest: String, baseCols: Seq[String] = Nil,
               fields: Seq[String] = Nil): DataFrame =
      NestedOps.toFlat(df, nest, baseCols, fields)
    def toLists(nest: String, baseCols: Seq[String] = Nil): DataFrame =
      NestedOps.toLists(df, nest, baseCols)
    def selectSubFields(nest: String, fields: Seq[String]): DataFrame =
      NestedOps.selectSubFields(df, nest, fields)

    def filterElements(nest: String, pred: Column => Column): DataFrame =
      NestedOps.filterElements(df, nest, pred)
    def dropNaElements(nest: String, subset: Seq[String] = Nil): DataFrame =
      NestedOps.dropNaElements(df, nest, subset)
    def fillNaElements(nest: String, values: Map[String, Any]): DataFrame =
      NestedOps.fillNaElements(df, nest, values)

    def withNestedField(nest: String, field: String, f: Column => Column): DataFrame =
      NestedOps.withNestedField(df, nest, field, f)
    def withNestedFieldKeepDtype(nest: String, field: String,
                                 f: Column => Column): DataFrame =
      NestedOps.withNestedFieldKeepDtype(df, nest, field, f)
    def nestGet(nest: String, field: String): Option[Column] =
      NestedOps.nestGet(df, nest, field)
    def dropNestedFields(nest: String, fields: String*): DataFrame =
      NestedOps.dropNestedFields(df, nest, fields)
    def nestFieldIterator(nest: String): Iterator[String] =
      NestedOps.nestFieldIterator(df, nest)
    def nestNumFields(nest: String): Int = NestedOps.nestNumFields(df, nest)
    def nestEquals(other: DataFrame, nest: String,
                   on: Seq[String] = Nil): Boolean =
      NestedOps.nestEquals(df, other, nest, on)
    def clearNestedFields(nest: String): Nothing =
      NestedOps.clearNestedFields(df, nest)

    def explodeNested(nest: String, keepEmpty: Boolean = false): DataFrame =
      NestedOps.explodeNested(df, nest, keepEmpty)
    def splitNested(nest: String, byField: String, values: Seq[String]): DataFrame =
      NestedOps.splitNested(df, nest, byField, values)
    def flattenInner(nest: String, innerField: String): DataFrame =
      NestedOps.flattenInner(df, nest, innerField)
    def sortElements(nest: String, keys: (String, Boolean)*): DataFrame =
      NestedOps.sortElements(df, nest, keys)
    def countNested(nest: String, by: Option[String] = None,
                    values: Seq[String] = Nil,
                    dropNa: Boolean = false): DataFrame =
      NestedOps.countNested(df, nest, by, values, dropNa)
  }
}
