package graft.cube

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}

import graft.core.{CubeDescriptor, DimensionSpec, SparkTypeName, Subset}

/**
 * A datacube: explicit dimensions as ordinary columns, implicit
 * (in-array) dimensions serialized inside an `ArrayType` measure column.
 *
 * This mirrors the reference's physical layout — each fragment row is
 * `(key, measure-array BLOB)` with implicit dimensions inside the blob
 * (`/root/reference/src/oph_subset_library.h:35` storage-engine pushdown
 * context) — but expressed Spark-first: the outer table is a DataFrame
 * Catalyst can prune/push/shuffle, and in-array work happens through
 * higher-order functions so it never leaves the executors.
 *
 * Column naming convention:
 *   - explicit dims: their own columns (part of the shuffle/join keys);
 *   - measure: column named `desc.measure` — scalar when the cube has no
 *     implicit dims, `ArrayType` otherwise;
 *   - implicit dim values: a companion array column `__dim_<name>`
 *     index-aligned with the measure array (the reference stores these in
 *     the dimension DB; we co-locate them for locality).
 *
 * Scale notes (100 TB): the groupBy in `build` shuffles once on the
 * explicit dims; array length is the implicit-dim cardinality (bounded by
 * design, exactly like the reference's fragment blob). All per-cell ops
 * (reduce/apply/permute) are narrow — no shuffle, no driver traffic.
 */
final case class Cube(df: DataFrame, desc: CubeDescriptor) {
  def measureCol: Column = df(desc.measure)
  def hasImplicit: Boolean = desc.implicitDims.nonEmpty
  def dimCol(name: String): Column = df(s"__dim_$name")
  def explicitDimNames: Seq[String] = desc.explicitDims.map(_.name)

  /** Relational (long-form) view: implicit dims exploded back to rows.
    * Used to hand results to SQL-facing consumers and the oracle.
    * Rank 1 zips the cell-aligned companion array; rank >= 2 decodes
    * the row-major flat index per axis and looks the value up in the
    * axis-aligned `__dim_<name>` array (1-based index when absent). */
  def flatten: DataFrame =
    if (!hasImplicit) df
    else if (desc.implicitDims.size == 1) {
      val dim = desc.implicitDims.head.name
      val cols = explicitDimNames.map(col) ++ Seq(
        col("__x.i").as(dim), col("__x.v").as(desc.measure))
      df.select(explicitDimNames.map(col) :+
          explode(arrays_zip(col(s"__dim_$dim").as("i"),
            col(desc.measure).as("v"))).as("__x"): _*)
        .select(cols: _*)
    } else {
      val dims = desc.implicitDims
      val shape = dims.map(_.size.getOrElse(throw new IllegalArgumentException(
        s"flatten: dim ${dims.find(_.size.isEmpty).get.name} has no size")))
      val strides = shape.scanRight(1L)(_ * _).tail
      val exploded = df.select(
        (explicitDimNames.map(col) ++
          dims.map(_.name).filter(n => df.columns.contains(s"__dim_$n"))
            .map(n => col(s"__dim_$n"))) :+
          posexplode(col(desc.measure)).as(Seq("__k", "__v")): _*)
      val axisCols = dims.zipWithIndex.map { case (d, j) =>
        val idx0 = pmod(floor(col("__k") / lit(strides(j).toDouble))
          .cast("long"), lit(shape(j)))
        val c =
          if (df.columns.contains(s"__dim_${d.name}"))
            element_at(col(s"__dim_${d.name}"), (idx0 + 1).cast("int"))
          else idx0 + 1
        c.as(d.name)
      }
      exploded.select(explicitDimNames.map(col) ++ axisCols :+
        col("__v").as(desc.measure): _*)
    }
}

object CubeOps {

  /** oph_importnc / oph_importcsv analog over the testdata parquet
    * (reference objkeys `src/oph_json/oph_json_objkeys.h:114-115`):
    * select a measure, explicit dims, and optionally one implicit dim
    * that gets serialized into the in-cell array, ordered by its value.
    */
  def importParquet(
      spark: SparkSession,
      path: String,
      measure: String,
      explicitDims: Seq[String],
      implicitDim: Option[String] = None,
      container: String = "default"): Cube = {
    val raw = spark.read.parquet(path)
    build(raw, measure, explicitDims, implicitDim, container, path)
  }

  /** Build a cube from any DataFrame (shared by import and randcube). */
  def build(
      raw: DataFrame,
      measure: String,
      explicitDims: Seq[String],
      implicitDim: Option[String],
      container: String,
      source: String): Cube =
    buildN(raw, measure, explicitDims, implicitDim.toSeq, container, source)

  /** Build with ANY number of implicit dims. Rank >= 2 serializes the
    * cell in row-major order of the dim tuple (array_sort on the
    * lexicographic struct), keeps one axis-aligned `__dim_<name>`
    * coordinate array per implicit dim, and records per-axis sizes as
    * shape metadata (one small distinct-count job at import — the
    * reference's importnc is an eager fragment materialization too,
    * `src/oph_json/oph_json_objkeys.h:114`). The grid must be dense:
    * a ragged group fails loudly at action time via raise_error. */
  def buildN(
      raw: DataFrame,
      measure: String,
      explicitDims: Seq[String],
      implicitDims: Seq[String],
      container: String,
      source: String): Cube = {
    var sizes: Map[String, Long] = Map.empty
    val df = implicitDims match {
      case Seq() =>
        raw.select((explicitDims :+ measure).map(col): _*)
      case Seq(id) =>
        // One shuffle on the explicit dims; array_sort on the (i, v)
        // structs gives a deterministic in-cell order by dim value.
        raw.groupBy(explicitDims.map(col): _*)
          .agg(array_sort(collect_list(struct(
            col(id).as("i"), col(measure).as("v")))).as("__kv"))
          .withColumn(measure, expr("transform(__kv, x -> x.v)"))
          .withColumn(s"__dim_$id", expr("transform(__kv, x -> x.i)"))
          .drop("__kv")
      case many =>
        val sizeRow = raw.select(
          many.map(d => countDistinct(col(d)).as(d)): _*).head()
        sizes = many.zipWithIndex
          .map { case (d, i) => d -> sizeRow.getLong(i) }.toMap
        val total = sizes.values.product
        val kvFields = many.zipWithIndex.map { case (d, i) =>
          col(d).as(s"d$i") } :+ col(measure).as("__v")
        val grouped = raw.groupBy(explicitDims.map(col): _*)
          .agg(array_sort(collect_list(struct(kvFields: _*))).as("__kv"))
        val withM = grouped.withColumn(measure,
          when(size(col("__kv")) === lit(total),
            expr("transform(__kv, x -> x.__v)"))
            .otherwise(raise_error(concat(
              lit(s"buildN: group is not a dense ${many.mkString("x")} grid" +
                s" (expected $total cells, got "),
              size(col("__kv")).cast("string"), lit(")")))))
        val withDims = many.zipWithIndex.foldLeft(withM) { case (d2, (d, i)) =>
          d2.withColumn(s"__dim_$d",
            array_sort(array_distinct(expr(s"transform(__kv, x -> x.d$i)"))))
        }
        withDims.drop("__kv")
    }
    val mType = raw.schema(measure).dataType
    val eDims = explicitDims.map(d =>
      DimensionSpec(d, SparkTypeName(raw.schema(d).dataType), explicit = true))
    val iDims = implicitDims.map(d =>
      DimensionSpec(d, SparkTypeName(raw.schema(d).dataType),
        explicit = false, size = sizes.get(d)))
    Cube(df, CubeDescriptor(
      id = 0, containerId = 0, container = container, path = "/",
      measure = measure, measureType = SparkTypeName(mType), level = 0,
      explicitDims = eDims, implicitDims = iDims,
      metadata = Map("source" -> source)))
  }

  // -------------------------------------------------------------------
  // oph_subset / oph_subset2 (`src/oph_subset_library.c:64-190`,
  // args subset_dims/subset_type/time_filter `src/oph_parser.h:68-70`)
  // -------------------------------------------------------------------

  /** Index-based subset on an explicit dimension whose values ARE the
    * 1-based indices (subset_type=index). Compiles to a pushdown-friendly
    * Column predicate — Catalyst sends it to the Parquet scan. */
  def subsetIndex(cube: Cube, dim: String, filter: String,
      max: Option[Long] = None): Cube = {
    val spec = Subset.parse(filter, max)
    bump(cube.copy(df = cube.df.filter(spec.toColumn(cube.df(dim)))), "oph_subset")
  }

  /** Value-based subset (subset_type=coord) on an explicit dimension:
    * a plain range/equality predicate on the dimension column. */
  def subsetCoord(cube: Cube, predicate: Column): Cube =
    bump(cube.copy(df = cube.df.filter(predicate)), "oph_subset")

  /** time_filter semantics: inclusive date range on a time dimension. */
  def subsetTime(cube: Cube, dim: String, from: String, to: String): Cube =
    subsetCoord(cube,
      cube.df(dim) >= to_timestamp(lit(from)) &&
      cube.df(dim) < to_timestamp(lit(to)))

  /** Full time_filter grammar (years/months/days/ranges/seasons —
    * `Subset.timeFilter`) applied to a time dimension. */
  def subsetTimeFilter(cube: Cube, dim: String, filter: String): Cube =
    subsetCoord(cube, Subset.timeFilter(filter, cube.df(dim)))

  /** Index subset on the IMPLICIT dim: array slice via HOF `filter` on
    * the 1-based position — executes in-cell, no shuffle, no explode. */
  def subsetImplicit(cube: Cube, filter: String, max: Option[Long] = None): Cube = {
    val spec = Subset.parse(filter, max)
    val m = cube.desc.measure
    val keep = (i: Column) => spec.toLambda(i)
    val dimCols = cube.desc.implicitDims.map(d => s"__dim_${d.name}")
    var df = cube.df.withColumn(m,
      filter_positions(cube.df(m), keep))
    dimCols.foreach { dc =>
      df = df.withColumn(dc, filter_positions(df(dc), keep))
    }
    bump(cube.copy(df = df), "oph_subset")
  }

  /** `filter(arr, (x, i0) -> p(i0+1))` — keep positions matching a
    * 1-based predicate; stays inside the executors. */
  private def filter_positions(arr: Column, p: Column => Column): Column =
    filter(arr, (_: Column, i0: Column) => p(i0 + lit(1)))

  // -------------------------------------------------------------------
  // n-implicit-dim cubes: flattened row-major arrays with shape
  // metadata — the reference's n-dimensional in-blob layout
  // (`src/oph_ophidiadb_query.h:48` fragments of arbitrary cubes;
  // per-dimension subset args `src/oph_parser.h:68-70`). All ops below
  // are pure index arithmetic inside `transform`/`filter` HOFs:
  // executor-local, no shuffle, no explode, codegen-friendly — the
  // 100 TB shape is identical to the scalar case (one narrow map).
  // -------------------------------------------------------------------

  /** Implicit-dim sizes, failing loudly when shape metadata is absent. */
  def implicitShape(cube: Cube): Seq[Long] =
    cube.desc.implicitDims.map(d => d.size.getOrElse(
      throw new IllegalArgumentException(s"dim ${d.name} has no size")))

  /** Row-major strides: strides(i) = prod(shape(i+1..)). */
  private def rowMajorStrides(shape: Seq[Long]): Seq[Long] =
    shape.scanRight(1L)(_ * _).tail

  /** Exact non-negative integer division/modulo on Columns (flattened
    * indices are always >= 0; floor-of-double is exact below 2^53 and
    * in-cell arrays are far smaller by design). */
  private def idiv(a: Column, b: Long): Column =
    floor(a / lit(b.toDouble)).cast("long")
  private def imod(a: Column, b: Long): Column = pmod(a, lit(b)).cast("long")

  /** Evaluation barrier for gather expressions. `element_at(m, i)`
    * INSIDE a transform lambda re-evaluates m's producer expression per
    * element once CollapseProject inlines it — the optimizer counts
    * attribute REFERENCES (1 here), not per-element EVALUATIONS
    * (`shape.product` here), so a composed build→permute→explode chain
    * silently goes quadratic in the cell count (measured 25x on a
    * 252-cell grid). Referencing m a second time through a cheap
    * `size(m) >= 0` keeps the producer in its own Project, evaluated
    * once per row (a plain isNotNull guard gets simplified away before
    * CollapseProject runs and does NOT work); null measure now yields
    * null output (size(null) is null), the saner cube semantics. */
  private def gatherGuard(m: Column, gather: Column): Column =
    when(size(m) >= 0, gather)

  /** oph_permute with an arbitrary `permutation_order` (reference
    * semantics: the measure is re-laid-out so the implicit dims appear
    * in the requested order, `oph_json_objkeys.h:93`). Output cell K
    * decomposes into the output multi-index, which maps straight onto
    * input strides — one `transform` per row. */
  def permuteN(cube: Cube, order: Seq[String]): Cube = {
    val dims = cube.desc.implicitDims
    require(order.sorted == dims.map(_.name).sorted,
      s"permute order ${order.mkString(",")} must be a permutation of " +
        dims.map(_.name).mkString(","))
    val shape = implicitShape(cube)
    val sIn = rowMajorStrides(shape)
    val byName = dims.map(_.name).zipWithIndex.toMap
    val perm = order.map(byName) // perm(j) = input axis at output pos j
    if (perm == perm.indices.toSeq) return bump(cube, "oph_permute")
    val outShape = perm.map(shape)
    val sOut = rowMajorStrides(outShape)
    val total = shape.product
    val m = cube.desc.measure
    def srcIdx(k: Column): Column =
      perm.indices.map { j =>
        imod(idiv(k, sOut(j)), outShape(j)) * lit(sIn(perm(j)))
      }.reduce(_ + _)
    val out = cube.df.withColumn(m, gatherGuard(cube.df(m),
      transform(sequence(lit(0L), lit(total - 1)), k =>
        element_at(cube.df(m), (srcIdx(k) + 1).cast("int")))))
    Cube(out, cube.desc.copy(implicitDims = perm.map(dims),
      level = cube.desc.level + 1, sourceTask = Some("oph_permute")))
  }

  /** oph_reduce2 along ONE named implicit axis of an n-implicit-dim
    * cube: for each surviving cell, gather the reduced axis with a
    * strided `element_at` walk and fold it with `reduceExpr`. The
    * surviving dims keep their row-major order. Rank 1 degenerates to
    * plain `reduce` (scalar measure out). */
  def reduceN(cube: Cube, dim: String, op: String): Cube = {
    val dims = cube.desc.implicitDims
    val r = dims.indexWhere(_.name == dim)
    require(r >= 0, s"no implicit dim '$dim'")
    if (dims.size == 1) return reduce(cube, op)
    val shape = implicitShape(cube)
    val sIn = rowMajorStrides(shape)
    val nR = shape(r); val sR = sIn(r)
    val outAxes = dims.indices.filterNot(_ == r)
    val outShape = outAxes.map(shape)
    val sOut = rowMajorStrides(outShape)
    val total = outShape.product
    val m = cube.desc.measure
    def baseIdx(k: Column): Column =
      outAxes.indices.map { j =>
        imod(idiv(k, sOut(j)), outShape(j)) * lit(sIn(outAxes(j)))
      }.reduce(_ + _)
    val out = cube.df.withColumn(m, gatherGuard(cube.df(m),
      transform(sequence(lit(0L), lit(total - 1)), k =>
        reduceExpr(transform(sequence(lit(0L), lit(nR - 1)), t =>
          element_at(cube.df(m), (baseIdx(k) + t * sR + 1).cast("int"))), op))))
      .drop(s"__dim_${dims(r).name}") // axis-aligned coords die with the axis
    Cube(out, cube.desc.copy(implicitDims = outAxes.map(dims),
      level = cube.desc.level + 1, sourceTask = Some("oph_reduce2")))
  }

  /** Per-axis index subset of an n-implicit-dim cube: keep flattened
    * positions whose index along `dim` matches the subset spec, and
    * shrink that axis's shape metadata to the kept count. */
  def subsetImplicitN(cube: Cube, dim: String, filterStr: String): Cube = {
    val dims = cube.desc.implicitDims
    val r = dims.indexWhere(_.name == dim)
    require(r >= 0, s"no implicit dim '$dim'")
    if (dims.size == 1) // rank 1: cell-aligned companions filter with m
      return subsetImplicit(cube, filterStr, dims.head.size)
    val shape = implicitShape(cube)
    val sIn = rowMajorStrides(shape)
    val nR = shape(r); val sR = sIn(r)
    val spec = Subset.parse(filterStr, Some(nR))
    val m = cube.desc.measure
    var df = cube.df.withColumn(m,
      filter(cube.df(m), (_: Column, i0: Column) =>
        spec.toLambda(imod(idiv(i0, sR), nR) + 1)))
    // rank >= 2 keeps axis-aligned coordinate arrays: slice the subset
    // axis's by POSITION with the same spec (rank 1's cell-aligned
    // companion is handled by subsetImplicit)
    if (dims.size > 1 && df.columns.contains(s"__dim_${dims(r).name}"))
      df = df.withColumn(s"__dim_${dims(r).name}",
        filter(df(s"__dim_${dims(r).name}"), (_: Column, i0: Column) =>
          spec.toLambda(i0 + 1)))
    val kept = spec.indices.count(i => i >= 1 && i <= nR)
    val newDims = dims.updated(r, dims(r).copy(size = Some(kept.toLong)))
    Cube(df, cube.desc.copy(implicitDims = newDims,
      level = cube.desc.level + 1, sourceTask = Some("oph_subset")))
  }

  // -------------------------------------------------------------------
  // oph_reduce / oph_reduce2 — collapse IMPLICIT dims
  // (`src/oph_json/oph_json_objkeys.h:96-97`)
  // -------------------------------------------------------------------

  /** Elementwise reduction of the in-cell array. All ops are
    * higher-order-function compositions — per-row, executor-local.
    * Supported: count,max,min,avg,sum,std,var,quantile,arg_max,arg_min. */
  def reduceExpr(arr: Column, op: String, quantile: Double = 0.5): Column = {
    def sumc = F.aggregate(arr, lit(0.0), (a, x) => a + x.cast("double"))
    def n = size(arr).cast("double")
    op match {
      case "count" => size(arr).cast("long")
      case "sum"   => sumc
      case "avg"   => sumc / n
      case "max"   => array_max(arr)
      case "min"   => array_min(arr)
      case "var" =>
        // population variance as the 2nd central moment — the one-pass
        // E[x^2]-E[x]^2 form cancels catastrophically for large means
        // with tiny spreads (can even go negative -> NaN std)
        val mean = sumc / n
        F.aggregate(arr, lit(0.0), (a, x) =>
          a + (x.cast("double") - mean) * (x.cast("double") - mean)) / n
      case "std" => sqrt(reduceExpr(arr, "var"))
      case "quantile" =>
        // nearest-rank on the sorted array (1-based; q=0 clamps to the
        // first element instead of the invalid index 0)
        val sorted = array_sort(arr)
        element_at(sorted,
          greatest(ceil(lit(quantile) * size(arr)), lit(1)).cast("int"))
      // statistical moments (reference reduce op list: cmoment/acmoment/
      // rmoment/armoment) — `quantile` doubles as the moment order
      case "rmoment" => // raw moment E[x^k]
        F.aggregate(arr, lit(0.0),
          (a, x) => a + pow(x.cast("double"), lit(quantile))) / n
      case "armoment" => // absolute raw moment E[|x|^k]
        F.aggregate(arr, lit(0.0),
          (a, x) => a + pow(abs(x.cast("double")), lit(quantile))) / n
      case "cmoment" => // central moment E[(x-mean)^k]
        val mean = sumc / n
        F.aggregate(arr, lit(0.0),
          (a, x) => a + pow(x.cast("double") - mean, lit(quantile))) / n
      case "acmoment" => // absolute central moment E[|x-mean|^k]
        val meanA = sumc / n
        F.aggregate(arr, lit(0.0),
          (a, x) => a + pow(abs(x.cast("double") - meanA), lit(quantile))) / n
      case "arg_max" => array_position(arr, array_max(arr)).cast("long")
      case "arg_min" => array_position(arr, array_min(arr)).cast("long")
      case other => throw new IllegalArgumentException(s"reduce op '$other'")
    }
  }

  /** oph_reduce: collapse the whole implicit dim (or `group_size`
    * blocks of it) with `op`. With group_size the measure stays an
    * array of ceil(n/gs) block-reductions. */
  def reduce(cube: Cube, op: String, groupSize: Option[Int] = None): Cube = {
    val m = cube.desc.measure
    val out = groupSize match {
      case None =>
        cube.df.withColumn(m, reduceExpr(cube.df(m), op))
          .drop(cube.desc.implicitDims.map(d => s"__dim_${d.name}"): _*)
      case Some(gs) =>
        // sequence of block starts -> slice -> reduce each block; the
        // surviving implicit dim is the block index, so mint its
        // companion __dim column (flatten/drilldown read it). Empty
        // in-cell arrays need explicit guards: sequence(a, b) with
        // a > b produces a DESCENDING sequence, not an empty one.
        val emptyD = array().cast("array<double>")
        val emptyI = array().cast("array<int>")
        val blocked = cube.df.withColumn(m,
          when(size(cube.df(m)) === 0, emptyD).otherwise(
            transform(
              sequence(lit(0),
                ceil(size(cube.df(m)).cast("double") / gs).cast("int") - 1),
              b => reduceExpr(slice(cube.df(m), b * gs + 1, lit(gs)), op))))
          .drop(cube.desc.implicitDims.map(d => s"__dim_${d.name}"): _*)
        cube.desc.implicitDims.foldLeft(blocked) { (df, d) =>
          df.withColumn(s"__dim_${d.name}_block",
            when(size(col(m)) === 0, emptyI)
              .otherwise(sequence(lit(1), size(col(m)))))
        }
    }
    val desc2 =
      if (groupSize.isEmpty)
        cube.desc.copy(implicitDims = Seq.empty, level = cube.desc.level + 1,
          sourceTask = Some("oph_reduce"))
      else cube.desc.copy(level = cube.desc.level + 1,
        implicitDims = cube.desc.implicitDims.map(d =>
          d.copy(name = s"${d.name}_block")),
        sourceTask = Some("oph_reduce"))
    Cube(out, desc2)
  }

  // -------------------------------------------------------------------
  // oph_aggregate / oph_aggregate2 — collapse EXPLICIT dims
  // (`src/oph_json/oph_json_objkeys.h:98-99`)
  // -------------------------------------------------------------------

  /** oph_aggregate: drop some explicit dims, aggregating the measure
    * with `op` across the collapsed rows. Scalar measures use native
    * aggregates (map-side partial + final — exactly the reference's
    * fragment-then-global two-phase); array measures reduce elementwise
    * via zip_with-style array sums. */
  def aggregate(cube: Cube, keepDims: Seq[String], op: String): Cube = {
    require(!cube.hasImplicit,
      "aggregate on array measures: reduce the implicit dim first or use aggregateArrays")
    val m = cube.desc.measure
    val agg: Column = op match {
      case "sum"   => sum(cube.df(m))
      case "avg"   => avg(cube.df(m))
      case "max"   => max(cube.df(m))
      case "min"   => min(cube.df(m))
      case "count" => count(lit(1))
      case "std"   => stddev_pop(cube.df(m))
      case "var"   => var_pop(cube.df(m))
      case other   => throw new IllegalArgumentException(s"aggregate op '$other'")
    }
    val out = cube.df.groupBy(keepDims.map(col): _*).agg(agg.as(m))
    Cube(out, cube.desc.copy(
      explicitDims = cube.desc.explicitDims.filter(d => keepDims.contains(d.name)),
      level = cube.desc.level + 1, sourceTask = Some("oph_aggregate")))
  }

  /**
   * oph_aggregate over an ARRAY-measure cube: collapse explicit dims
   * ELEMENTWISE — cell i of the output array aggregates cell i across
   * the collapsed rows, the reference's normal fragment-collapse path
   * for array cubes (fragment partial then global final, two-phase).
   *
   * Spark-first shape: a binary zip_with combine is an algebraic
   * aggregate, so `reduceGroups`-style pairwise folding via
   * `aggregate`+`zip_with` inside groupBy gets map-side partial
   * aggregation for free. avg carries (sum, count) and finalizes —
   * mergeable at any tree depth, safe at 1000 executors.
   * Requires index-aligned arrays (same implicit-dim grid), which the
   * build invariant guarantees; the first row's __dim companion is kept.
   */
  def aggregateArrays(cube: Cube, keepDims: Seq[String], op: String): Cube = {
    require(cube.hasImplicit, "aggregateArrays needs an array measure")
    val m = cube.desc.measure
    val dimCols = cube.desc.implicitDims.map(d => s"__dim_${d.name}")
    val combine = graft.functions.ArrayCombine(op)
    val out = cube.df.groupBy(keepDims.map(col): _*)
      .agg(combine(col(m).cast("array<double>")).as(m),
        dimCols.map(c => first(col(c)).as(c)): _*)
    Cube(out, cube.desc.copy(
      explicitDims = cube.desc.explicitDims.filter(d => keepDims.contains(d.name)),
      measureType = "double",
      level = cube.desc.level + 1, sourceTask = Some("oph_aggregate")))
  }

  /** oph_aggregate2: aggregate grouped by a derived concept level of a
    * dimension (e.g. month of a date) — `groupBy(date_trunc)`. */
  def aggregate2(cube: Cube, dim: String, levelExpr: Column => Column,
      levelName: String, op: String): Cube = {
    val m = cube.desc.measure
    val others = cube.explicitDimNames.filterNot(_ == dim)
    val withLevel = cube.df.withColumn(levelName, levelExpr(cube.df(dim)))
    val groupCols = (others :+ levelName).map(col)
    val out =
      if (cube.hasImplicit) {
        // array measure: elementwise combine per concept-level group —
        // the rank-n rollup (daily (lat x lon) grids -> monthly means).
        // Same map-side-partial Aggregator as oph_aggregate; implicit
        // geometry is untouched so the __dim_* axes carry over.
        val dimCols = cube.desc.implicitDims.map(d => s"__dim_${d.name}")
        withLevel.groupBy(groupCols: _*)
          .agg(graft.functions.ArrayCombine(op)(
            col(m).cast("array<double>")).as(m),
            dimCols.map(c => first(col(c)).as(c)): _*)
      } else {
        val agg: Column = op match {
          case "sum" => sum(cube.df(m)); case "avg" => avg(cube.df(m))
          case "max" => max(cube.df(m)); case "min" => min(cube.df(m))
          case "count" => count(lit(1))
          case other =>
            throw new IllegalArgumentException(s"aggregate2 op '$other'")
        }
        withLevel.groupBy(groupCols: _*).agg(agg.as(m))
      }
    Cube(out, cube.desc.copy(
      explicitDims = cube.desc.explicitDims.filterNot(_.name == dim) :+
        DimensionSpec(levelName, "string", explicit = true),
      level = cube.desc.level + 1, sourceTask = Some("oph_aggregate2")))
  }

  // -------------------------------------------------------------------
  // oph_intercube — binary cube op (`oph_json_objkeys.h:135`)
  // -------------------------------------------------------------------

  /** Equi-join the two cubes on their shared explicit dims and combine
    * measures: zip_with for array measures, scalar op otherwise.
    * op ∈ sum|sub|mul|div|abs (abs = |a-b|). The join keys are the dim
    * columns, so Catalyst picks broadcast vs sort-merge by stats. */
  def intercube(a: Cube, b: Cube, op: String, outName: String,
      missingValue: Option[Double] = None): Cube = {
    val keys = a.explicitDimNames.intersect(b.explicitDimNames)
    require(keys.nonEmpty, "intercube: no shared explicit dims")
    def combine(x: Column, y: Column): Column = {
      val raw = op match {
        case "sum" => x + y
        case "sub" => x - y
        case "mul" => x * y
        case "div" => x / y
        case "abs" => abs(x - y)
        case other => throw new IllegalArgumentException(s"intercube op '$other'")
      }
      // reference missingvalue semantics: a missing operand poisons
      // the cell (NaN sentinels compare via isnan — === NaN is never
      // true)
      missingValue match {
        case Some(mv) if mv.isNaN =>
          when(isnan(x) || isnan(y), lit(Double.NaN)).otherwise(raw)
        case Some(mv) =>
          when(x === lit(mv) || y === lit(mv), lit(mv)).otherwise(raw)
        case None => raw
      }
    }
    /** Pearson correlation of the two in-cell arrays (array -> scalar;
      * the reference's intercube corr mode). Null when variance is 0.
      * Native one-pass codegen Expression — the HOF formulation ran
      * five interpreted aggregates per cell and was this operator's
      * recurring sweep-spike. Identical accumulation order, so results
      * are bit-equal. */
    def corrArrays(x: Column, y: Column): Column =
      graft.functions.expressions.GraftExpressions.corr_arrays(x, y)
    // project b down to keys + measure BEFORE the join: b's __dim_*
    // companions must not survive as duplicate columns beside a's
    // (downstream flatten/drilldown would hit AMBIGUOUS_REFERENCE)
    val bRen = b.df.select(
      keys.map(col) :+ col(b.desc.measure).as("__rhs"): _*)
    val joined = a.df.join(bRen, keys)
    val out =
      if (op == "corr" && a.hasImplicit)
        joined.withColumn(outName, corrArrays(col(a.desc.measure), col("__rhs")))
      else if (a.hasImplicit)
        joined.withColumn(outName,
          zip_with(col(a.desc.measure), col("__rhs"), combine))
      else joined.withColumn(outName, combine(col(a.desc.measure), col("__rhs")))
    // corr collapses the array to a scalar: the implicit dims (and
    // their companion columns) do not survive into the output cube
    val dimDrop =
      if (op == "corr") a.desc.implicitDims.map(d => s"__dim_${d.name}")
      else Seq.empty
    val toDrop = ("__rhs" +: dimDrop) ++
      (if (a.desc.measure != outName) Seq(a.desc.measure) else Seq.empty)
    val cleaned = out.drop(toDrop: _*)
    Cube(cleaned, a.desc.copy(measure = outName, level = a.desc.level + 1,
      implicitDims =
        if (op == "corr") Seq.empty else a.desc.implicitDims,
      sourceTask = Some("oph_intercube")))
  }

  /** oph_intercube2 proper (`oph_json_objkeys.h` intercube2): an
    * elementwise operation across N >= 2 cubes — sum, avg, mul, max,
    * min. Joins every cube to the first on the shared explicit dims
    * (each rhs pre-projected to keys + measure, same hygiene as
    * [[intercube]]); the combine stays one codegen'd expression, avg
    * divides once at the end. At scale each join shuffles on the same
    * dim key, so AQE/bucketing co-locates the chain. */
  def intercubeN(cs: Seq[Cube], op: String, outName: String,
      missingValue: Option[Double] = None): Cube = {
    require(cs.size >= 2, "intercube2: need >= 2 cubes")
    require(Seq("sum", "avg", "mul", "max", "min").contains(op),
      s"intercube2 op '$op'")
    val a = cs.head
    val keys = cs.map(_.explicitDimNames).reduce(_ intersect _)
    require(keys.nonEmpty, "intercube2: no shared explicit dims")
    def isMiss(c: Column): Column = missingValue match {
      case Some(mv) if mv.isNaN => isnan(c)
      case Some(mv) => c === lit(mv)
      case None => lit(false)
    }
    def comb(x: Column, y: Column): Column = {
      val raw = op match {
        case "sum" | "avg" => x + y
        case "mul" => x * y
        case "max" => greatest(x, y)
        case "min" => least(x, y)
      }
      if (missingValue.isEmpty) raw
      else when(isMiss(x) || isMiss(y), lit(missingValue.get)).otherwise(raw)
    }
    val joined = cs.tail.zipWithIndex.foldLeft(a.df) {
      case (acc, (c, i)) =>
        acc.join(c.df.select(
          keys.map(col) :+ col(c.desc.measure).as(s"__rhs_$i"): _*), keys)
    }
    val rhs = cs.tail.indices.map(i => col(s"__rhs_$i"))
    val combined = rhs.foldLeft(col(a.desc.measure)) { (x, y) =>
      if (a.hasImplicit) zip_with(x, y, comb) else comb(x, y)
    }
    def divTotal(v: Column): Column = // keep the missing sentinel whole
      when(isMiss(v), v).otherwise(v / lit(cs.size.toDouble))
    val finished =
      if (op != "avg") combined
      else if (a.hasImplicit) transform(combined, divTotal(_))
      else divTotal(combined)
    val out = joined.withColumn(outName, finished)
      .drop(cs.tail.indices.map(i => s"__rhs_$i") ++
        (if (a.desc.measure != outName) Seq(a.desc.measure)
         else Seq.empty): _*)
    Cube(out, a.desc.copy(measure = outName, level = a.desc.level + 1,
      sourceTask = Some("oph_intercube2")))
  }

  // -------------------------------------------------------------------
  // oph_mergecubes / oph_mergecubes2 (`oph_json_objkeys.h:136`)
  // -------------------------------------------------------------------

  /** mergecubes: append along the implicit dim — join on explicit dims,
    * concat the measure arrays AND the companion dim arrays, keeping the
    * index-alignment invariant. */
  def mergecubes(a: Cube, b: Cube): Cube = {
    require(a.hasImplicit && b.hasImplicit, "mergecubes needs array measures")
    val keys = a.explicitDimNames.intersect(b.explicitDimNames)
    val m = a.desc.measure
    val dimCols = a.desc.implicitDims.map(d => s"__dim_${d.name}")
      .filter(c => a.df.columns.contains(c) && b.df.columns.contains(c))
    val bRen = b.df.select(
      keys.map(col) ++ Seq(col(b.desc.measure).as("__rhs")) ++
        dimCols.map(c => col(c).as(s"__rhs$c")): _*)
    var out = a.df.join(bRen, keys)
      .withColumn(m, concat(col(m), col("__rhs"))).drop("__rhs")
    dimCols.foreach { c =>
      out = out.withColumn(c, concat(col(c), col(s"__rhs$c")))
        .drop(s"__rhs$c")
    }
    Cube(out, a.desc.copy(level = a.desc.level + 1,
      sourceTask = Some("oph_mergecubes")))
  }

  /** mergecubes2: stack along a NEW explicit dim — unionByName with a
    * literal dim value per input. */
  def mergecubes2(cubes: Seq[(String, Cube)], newDim: String): Cube = {
    val dfs = cubes.map { case (tag, c) => c.df.withColumn(newDim, lit(tag)) }
    val out = dfs.reduce(_.unionByName(_))
    val d0 = cubes.head._2.desc
    Cube(out, d0.copy(
      explicitDims = d0.explicitDims :+ DimensionSpec(newDim, "string", explicit = true),
      level = d0.level + 1, sourceTask = Some("oph_mergecubes2")))
  }

  // -------------------------------------------------------------------
  // oph_rollup / oph_drilldown (`oph_json_objkeys.h:100-101`)
  // -------------------------------------------------------------------

  /** rollup: move an explicit dim into the array (one shuffle on the
    * remaining dims — same cost shape as the reference re-fragmenting). */
  def rollup(cube: Cube, dim: String): Cube = {
    require(!cube.hasImplicit, "rollup v1: start from a scalar-measure cube")
    val m = cube.desc.measure
    val keep = cube.explicitDimNames.filterNot(_ == dim)
    val out = cube.df.groupBy(keep.map(col): _*)
      .agg(array_sort(collect_list(struct(col(dim).as("i"), col(m).as("v"))))
        .as("__kv"))
      .withColumn(m, expr("transform(__kv, x -> x.v)"))
      .withColumn(s"__dim_$dim", expr("transform(__kv, x -> x.i)"))
      .drop("__kv")
    val spec = cube.desc.explicitDims.find(_.name == dim).get
    Cube(out, cube.desc.copy(
      explicitDims = cube.desc.explicitDims.filterNot(_.name == dim),
      implicitDims = cube.desc.implicitDims :+ spec.copy(explicit = false),
      level = cube.desc.level + 1, sourceTask = Some("oph_rollup")))
  }

  /** drilldown: explode the implicit dim back out to rows. */
  def drilldown(cube: Cube): Cube = {
    require(cube.hasImplicit, "drilldown: no implicit dim")
    val dim = cube.desc.implicitDims.head
    Cube(cube.flatten, cube.desc.copy(
      explicitDims = cube.desc.explicitDims :+ dim.copy(explicit = true),
      implicitDims = cube.desc.implicitDims.tail,
      level = cube.desc.level + 1, sourceTask = Some("oph_drilldown")))
  }

  // -------------------------------------------------------------------
  // oph_permute (`oph_json_objkeys.h:93`) — reorder the implicit dim
  // -------------------------------------------------------------------

  /** Reverse the in-cell order (the 1-implicit-dim permutation). */
  def permuteReverse(cube: Cube): Cube = {
    val m = cube.desc.measure
    var df = cube.df.withColumn(m, reverse(col(m)))
    cube.desc.implicitDims.foreach { d =>
      df = df.withColumn(s"__dim_${d.name}", reverse(col(s"__dim_${d.name}")))
    }
    bump(cube.copy(df = df), "oph_permute")
  }

  // -------------------------------------------------------------------
  // 2-implicit-dim cubes: flattened row-major arrays with shape
  // metadata — the reference's n-dimensional in-blob layout
  // -------------------------------------------------------------------

  /** oph_reduce2 at the cube level: reduce along a NAMED implicit dim;
    * the surviving dims keep their specs. Delegates to the n-D path. */
  def reduce2(cube: Cube, dim: String, op: String): Cube =
    reduceN(cube, dim, op)

  /** oph_permute for a 2-implicit-dim cube: swap the dims (transpose
    * each in-cell array). Delegates to the n-D permutation. */
  def permute2(cube: Cube): Cube = {
    require(cube.desc.implicitDims.size == 2, "permute2 expects 2 implicit dims")
    permuteN(cube, cube.desc.implicitDims.map(_.name).reverse)
  }

  /** Deterministic synthetic 2-implicit-dim cube (shape n1 x n2). */
  def randcube2(spark: SparkSession, nRows: Long, n1: Int, n2: Int,
      seed: Long): Cube = {
    val df = spark.range(nRows).toDF("key")
      .withColumn("measure",
        transform(sequence(lit(1), lit(n1 * n2)),
          i => pmod(hash(col("key") * lit(31) + i + lit(seed)).cast("long"),
            lit(1000L)).cast("double")))
    Cube(df, CubeDescriptor(0, 0, "rand2", "/", "measure", "double", 0,
      Seq(DimensionSpec("key", "long", explicit = true)),
      Seq(
        DimensionSpec("d1", "int", explicit = false, size = Some(n1.toLong)),
        DimensionSpec("d2", "int", explicit = false, size = Some(n2.toLong))),
      metadata = Map("seed" -> seed.toString)))
  }

  // -------------------------------------------------------------------
  // oph_split / oph_merge (`oph_json_objkeys.h:108-109`) — re-fragment
  // -------------------------------------------------------------------

  def split(cube: Cube, nFragments: Int): Cube =
    Cube(cube.df.repartition(nFragments),
      cube.desc.copy(fragments = nFragments, level = cube.desc.level + 1,
        sourceTask = Some("oph_split")))

  def merge(cube: Cube, nFragments: Int): Cube =
    Cube(cube.df.coalesce(nFragments),
      cube.desc.copy(fragments = nFragments, level = cube.desc.level + 1,
        sourceTask = Some("oph_merge")))

  // -------------------------------------------------------------------
  // oph_duplicate (`oph_json_objkeys.h:78`)
  // -------------------------------------------------------------------

  def duplicate(cube: Cube): Cube =
    bump(cube.copy(), "oph_duplicate")

  // -------------------------------------------------------------------
  // inspection: oph_cubeschema / oph_cubesize / oph_cubeelements
  // (`oph_json_objkeys.h:42,45,48-51`)
  // -------------------------------------------------------------------

  /** Schema listing as a DataFrame (dimension name, kind, type). */
  def cubeschema(spark: SparkSession, cube: Cube): DataFrame = {
    import spark.implicits._
    schemaRows(cube).toDF("name", "kind", "dtype")
  }

  /** The (name, kind, dtype) rows of `cubeschema`, on the driver. */
  def schemaRows(cube: Cube): Seq[(String, String, String)] =
    cube.desc.explicitDims.map(d => (d.name, "explicit", d.dataType)) ++
      cube.desc.implicitDims.map(d => (d.name, "implicit", d.dataType)) :+
      ((cube.desc.measure, "measure", cube.desc.measureType))

  /** Total element count = rows × in-cell array length (1 if scalar). */
  def cubeelements(cube: Cube): DataFrame = {
    val m = cube.desc.measure
    val per = if (cube.hasImplicit) size(col(m)).cast("long") else lit(1L)
    cube.df.select(per.as("__n")).agg(sum(col("__n")).as("n_elements"))
  }

  /** oph_cubesize: rows, elements, and an estimated measure byte size
    * (elements x 8 for double measures — the fragment-size accounting
    * the reference keeps in OphidiaDB). */
  def cubesize(cube: Cube): DataFrame = {
    val m = cube.desc.measure
    val per = if (cube.hasImplicit) size(col(m)).cast("long") else lit(1L)
    cube.df.select(per.as("__n"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__n")).as("n_elements"))
      .withColumn("est_bytes", col("n_elements") * 8)
  }

  // -------------------------------------------------------------------
  // oph_explorecube (`oph_json_objkeys.h:81-83`) — peek with subset+limit
  // -------------------------------------------------------------------

  def explorecube(cube: Cube, predicate: Option[Column], limit: Int): DataFrame = {
    val base = predicate.map(cube.df.filter).getOrElse(cube.df)
    base.limit(limit)
  }

  // -------------------------------------------------------------------
  // oph_randcube (`oph_json_objkeys.h:104`) — synthetic cube
  // -------------------------------------------------------------------

  /** Deterministic synthetic cube: nRows keys × arrayLen array cells.
    * Values from rand(seed) — reproducible across runs at fixed
    * parallelism; sized by `spark.range` so generation is distributed. */
  def randcube(spark: SparkSession, nRows: Long, arrayLen: Int, seed: Long): Cube = {
    val df = spark.range(nRows).toDF("key")
      .withColumn("measure",
        transform(sequence(lit(1), lit(arrayLen)),
          i => pmod(hash(col("key") * lit(31) + i + lit(seed)).cast("long"),
            lit(1000L)).cast("double")))
      .withColumn("__dim_idx", sequence(lit(1), lit(arrayLen)))
    Cube(df, CubeDescriptor(0, 0, "rand", "/", "measure", "double", 0,
      Seq(DimensionSpec("key", "long", explicit = true)),
      Seq(DimensionSpec("idx", "int", explicit = false,
        size = Some(arrayLen.toLong))),
      metadata = Map("seed" -> seed.toString)))
  }

  private def bump(cube: Cube, task: String): Cube =
    cube.copy(desc = cube.desc.copy(level = cube.desc.level + 1,
      sourceTask = Some(task)))
}
