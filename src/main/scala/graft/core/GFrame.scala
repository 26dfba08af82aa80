package graft.core

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A 2-D labeled frame over Spark: an indexed collection of named columns.
  *
  * The reference declared this layer but never built it —
  * `pontem/dataframe/__init__.py` is an empty file, and the README's
  * aspiration is column assignment arithmetic (`df['new'] = df['col'] * 2`,
  * ref: README.md:16-19). This is that layer, Spark-first: a thin immutable
  * wrapper over `org.apache.spark.sql.DataFrame` plus an index column, where
  * column access returns a [[Series]] sharing the SAME base frame so Series
  * arithmetic between columns of one GFrame composes into a single projected
  * scan (no joins, whole-stage codegen), and assignment is `withColumn`.
  *
  * Everything relational delegates to Catalyst: filters push down to the
  * scan, joins go broadcast/sort-merge under AQE, groupBy is partial+final
  * HashAggregate. Nothing here collects to the driver.
  */
final class GFrame private[graft] (val df: DataFrame, val indexName: String)
    extends Serializable {

  /** Column access as a Series over the same base — `gf("col") * gf("d")`
    * composes expressions on one scan (the 100 TB fast path). */
  def apply(colName: String): Series =
    Series.fromExpr(df, df(colName), colName, df(indexName), indexName)

  /** Arbitrary-expression Series over this frame's base. */
  def expr(c: Column, name: String): Series =
    Series.fromExpr(df, c, name, df(indexName), indexName)

  def columns: Seq[String] = df.schema.names.toSeq

  // ------------------------------------------------------------- assignment

  /** `df['new'] = series` (the README flagship, ref: README.md:16-19).
    * Same-base Series assign as a pure projection; cross-frame Series join
    * on the index (left join — this frame's labels win, pandas alignment). */
  def assign(name: String, s: Series): GFrame =
    if (s.base eq df) withColumn(name, s.values)
    else {
      // overwrite semantics (pandas df['x'] = s): drop any existing column
      // of the same name before joining, or the result carries an ambiguous
      // duplicate.
      val lhs = df.drop(name)
      val rhs = s.df.select(col(s.indexName).as("__graft_aidx"),
        col(s.name).as(name))
      new GFrame(lhs.join(rhs, lhs(indexName) === col("__graft_aidx"), "left")
        .drop("__graft_aidx"), indexName)
    }

  def withColumn(name: String, c: Column): GFrame =
    new GFrame(df.withColumn(name, c), indexName)

  // ------------------------------------------------------------- relational

  /** Column projection; the index column is always retained. */
  def select(cols: String*): GFrame = {
    val keep = (indexName +: cols.filterNot(_ == indexName)).map(df(_))
    new GFrame(df.select(keep: _*), indexName)
  }

  def drop(cols: String*): GFrame =
    new GFrame(df.drop(cols.filterNot(_ == indexName): _*), indexName)

  def filter(c: Column): GFrame = new GFrame(df.filter(c), indexName)
  def where(c: Column): GFrame = filter(c)

  def rename(mapping: (String, String)*): GFrame = {
    val renamed = mapping.foldLeft(df) { case (d, (from, to)) =>
      d.withColumnRenamed(from, to)
    }
    val newIdx = mapping.toMap.getOrElse(indexName, indexName)
    new GFrame(renamed, newIdx)
  }

  def sortValues(cols: Column*): GFrame = new GFrame(df.orderBy(cols: _*), indexName)
  def head(n: Int): GFrame =
    new GFrame(df.orderBy(df(indexName).asc).limit(n), indexName)
  def limit(n: Int): GFrame = new GFrame(df.limit(n), indexName)

  def distinct(): GFrame = new GFrame(df.distinct(), indexName)
  def dropDuplicates(cols: String*): GFrame =
    new GFrame(df.dropDuplicates(cols), indexName)

  // set ops (positional schemas must match)
  def union(o: GFrame): GFrame = new GFrame(df.union(o.df), indexName)
  def intersect(o: GFrame): GFrame = new GFrame(df.intersect(o.df), indexName)
  def except(o: GFrame): GFrame = new GFrame(df.except(o.df), indexName)

  // -------------------------------------------------------------------- agg

  /** groupBy with GFrame-returning agg. Partial+final HashAggregate — the
    * shuffle moves only the grouped partials, never raw rows. */
  def groupBy(cols: Column*): GGroupBy = new GGroupBy(df.groupBy(cols: _*), this)
  def groupBy(col0: String, rest: String*): GGroupBy =
    new GGroupBy(df.groupBy(col0, rest: _*), this)
  def rollup(cols: Column*): GGroupBy = new GGroupBy(df.rollup(cols: _*), this)
  def cube(cols: Column*): GGroupBy = new GGroupBy(df.cube(cols: _*), this)

  def agg(first: Column, rest: Column*): DataFrame = df.agg(first, rest: _*)

  /** pandas `df.describe()` over the named numeric columns: count / mean /
    * std / min / quartiles / max, one row per statistic, one column per
    * input column. Every statistic for every column comes from ONE
    * partial+final aggregate pass (the quartiles use the exact sort-based
    * percentile, matching pandas' interpolation); `stack` then pivots the
    * single aggregate row into the stat×column layout without a shuffle or
    * any driver-side state. */
  def describe(cols: String*): GFrame =
    describeImpl(cols, (v, p) => percentile(v, lit(p)))

  /** [[describe]] with SKETCHED quartiles — percentile_approx, the
    * Greenwald–Khanna-style mergeable sketch — in the identical
    * stat×column layout. This is the 100 TB default: the exact sort-based
    * percentile aggregate buffers the column's values per group, while the
    * sketch is a fixed-size mergeable partial whose shuffle cost is
    * O(accuracy) regardless of row count. Rank error shrinks as ~1/accuracy
    * of the row count, and the quartiles are actual column elements (no
    * interpolation) — which is why this variant is rows-only in the driver
    * contract, with GFrameSpec asserting it against the exact [[describe]]
    * within rank-error bounds instead. */
  def describeApprox(accuracy: Int, cols: String*): GFrame =
    describeImpl(cols, (v, p) => percentile_approx(v, lit(p), lit(accuracy)))

  private def describeImpl(cols: Seq[String],
      quartile: (Column, Double) => Column): GFrame = {
    require(cols.nonEmpty, "describe needs at least one column")
    val Fn = org.apache.spark.sql.functions // members count/expr shadow the imports
    val aggs = cols.flatMap { c =>
      val v = col(c).cast("double")
      Seq(Fn.count(v).cast("double").as(s"count__$c"),
        avg(v).as(s"mean__$c"),
        stddev_samp(v).as(s"std__$c"),
        min(v).as(s"min__$c"),
        quartile(v, 0.25).as(s"p25__$c"),
        quartile(v, 0.5).as(s"p50__$c"),
        quartile(v, 0.75).as(s"p75__$c"),
        max(v).as(s"max__$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stats = Seq("count" -> "count", "mean" -> "mean", "std" -> "std",
      "min" -> "min", "25%" -> "p25", "50%" -> "p50", "75%" -> "p75",
      "max" -> "max")
    val stackArgs = stats.map { case (label, pre) =>
      (Seq(s"'$label'") ++ cols.map(c => s"`${pre}__$c`")).mkString(", ")
    }.mkString(", ")
    val outCols = cols.map(c => s"`$c`").mkString(", ")
    val stacked = one.select(Fn.expr(
      s"stack(${stats.size}, $stackArgs) AS (stat, $outCols)"))
    new GFrame(stacked, "stat")
  }

  // ------------------------------------------------------------------ joins

  /** Equi-join on named keys. `broadcastRight` forces a broadcast-hash join
    * (use for dimension tables; at 100 TB the fact side never shuffles). */
  def join(other: GFrame, joinExpr: Column, joinType: String = "inner",
           broadcastRight: Boolean = false): GFrame = {
    val rhs = if (broadcastRight) broadcast(other.df) else other.df
    new GFrame(df.join(rhs, joinExpr, joinType), indexName)
  }

  /** Equi-join on shared column names (pandas merge(on=...)): the output
    * carries one unambiguous copy of each key column. */
  def join(other: GFrame, usingCols: Seq[String], joinType: String): GFrame =
    new GFrame(df.join(other.df, usingCols, joinType), indexName)

  /** pandas `merge(how='outer', indicator=True)`: full-outer equi-join on
    * shared column names plus a provenance column
    * (both / left_only / right_only) from per-side presence markers —
    * same single keyed exchange as the plain join. */
  def mergeIndicator(other: GFrame, usingCols: Seq[String],
                     indicatorName: String = "_merge"): GFrame = {
    // pandas raises on a pre-existing indicator column; the presence markers
    // are internal and must not silently shadow user columns either
    Seq("__ml", "__mr", indicatorName).foreach { n =>
      require(!df.columns.contains(n) && !other.df.columns.contains(n),
        s"mergeIndicator: column '$n' already exists in an input frame")
    }
    val l = df.withColumn("__ml", lit(true))
    val r = other.df.withColumn("__mr", lit(true))
    new GFrame(l.join(r, usingCols, "full_outer")
      .withColumn(indicatorName,
        when(col("__ml").isNotNull && col("__mr").isNotNull, "both")
          .when(col("__ml").isNotNull, "left_only").otherwise("right_only"))
      .drop("__ml", "__mr"), indexName)
  }

  /** pandas df.nlargest(n, columns) / nsmallest: top-n rows by the named
    * columns. pandas breaks remaining ties by position (keep='first'),
    * which has no stable distributed meaning — callers pass explicit
    * `tiebreak` columns instead (document the determinism you want).
    * Plans as TakeOrderedAndProject: per-partition top-n heaps, the
    * driver merges ≤ n·partitions candidates — no global sort at any
    * scale. */
  def nlargest(n: Int, cols: Seq[String],
               tiebreak: Seq[Column] = Nil): GFrame =
    new GFrame(df.orderBy(cols.map(col(_).desc) ++ tiebreak: _*).limit(n),
      indexName)

  def nsmallest(n: Int, cols: Seq[String],
                tiebreak: Seq[Column] = Nil): GFrame =
    new GFrame(df.orderBy(cols.map(col(_).asc) ++ tiebreak: _*).limit(n),
      indexName)

  /** pandas merge(on=, how=, suffixes=, validate=): equi-join with
    * pandas collision suffixing and cardinality validation.
    * validate='1:1'/'1:m'/'m:1'/'m:m' asserts the claimed side's key
    * uniqueness via one bounded max-group-count aggregate per checked
    * side (an opt-in assertion scan, exactly pandas' contract).
    * Overlapping non-key columns take the suffixes; the join itself is
    * whatever Catalyst picks for the sizes (broadcast or SMJ). */
  def merge(other: GFrame, on: Seq[String], how: String = "inner",
            suffixes: (String, String) = ("_x", "_y"),
            validate: Option[String] = None): GFrame = {
    require(on.nonEmpty, "merge needs at least one key column")
    validate.foreach { v =>
      require(Set("1:1", "1:m", "m:1", "m:m")(v),
        s"validate must be 1:1|1:m|m:1|m:m, got '$v'")
      def maxDup(d: DataFrame): Long = {
        val r = d.groupBy(on.map(col): _*)
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("__c"))
          .agg(max(col("__c"))).head()
        // max over zero groups is null: an empty side is trivially unique
        // (pandas validate passes on empty frames too).
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
      if (v.startsWith("1")) require(maxDup(df) <= 1L,
        s"merge validate='$v': left keys are not unique")
      if (v.endsWith("1")) require(maxDup(other.df) <= 1L,
        s"merge validate='$v': right keys are not unique")
    }
    val overlap = (df.columns.toSet & other.df.columns.toSet) -- on.toSet
    val l = overlap.foldLeft(df)((d, c) =>
      d.withColumnRenamed(c, c + suffixes._1))
    val r = overlap.foldLeft(other.df)((d, c) =>
      d.withColumnRenamed(c, c + suffixes._2))
    new GFrame(l.join(r, on, how), indexName)
  }

  /** Equi-join pinned to a shuffle SortMergeJoin (`"merge"` strategy hint) —
    * the large⨝large bread-and-butter plan at 100 TB: both sides shuffle on
    * the join key and stream a merge; nothing is broadcast or collected.
    * Use when BOTH sides are fact-sized (a broadcast would OOM executors). */
  def joinSortMerge(other: GFrame, joinExpr: Column,
                    joinType: String = "inner"): GFrame =
    new GFrame(df.hint("merge").join(other.df.hint("merge"), joinExpr,
      joinType), indexName)

  def semiJoin(other: GFrame, joinExpr: Column): GFrame =
    new GFrame(df.join(other.df, joinExpr, "left_semi"), indexName)
  def antiJoin(other: GFrame, joinExpr: Column): GFrame =
    new GFrame(df.join(other.df, joinExpr, "left_anti"), indexName)

  // ---------------------------------------------------------------- windows

  /** Dense ordinal rank within each partition (1-based). Shuffles once on
    * the partition keys; sort is per-partition, never global. */
  def withRank(name: String, partitionBy: Seq[Column], orderBy: Seq[Column]): GFrame =
    withColumn(name, row_number().over(
      Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)))

  /** Running aggregate (rows unbounded-preceding..current) per partition. */
  def withRunning(name: String, aggExpr: Column, partitionBy: Seq[Column],
                  orderBy: Seq[Column]): GFrame =
    withColumn(name, aggExpr.over(
      Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** Relative-position window family (pandas rank(pct=True) /
    * qcut-by-rank): percent_rank, cume_dist, and ntile(n) share ONE
    * keyed window — one shuffle, per-partition sort, all three in a
    * single Window node. */
  def withPctWindows(partitionBy: Seq[Column], orderBy: Seq[Column],
                     ntiles: Int,
                     names: (String, String, String) =
                       ("pct_rank", "cume_dist", "tile")): GFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
    new GFrame(df
      .withColumn(names._1, percent_rank().over(w))
      .withColumn(names._2, cume_dist().over(w))
      .withColumn(names._3, ntile(ntiles).over(w)), indexName)
  }

  /** Lag/lead over an ordered partition. */
  def withLag(name: String, c: Column, offset: Int, partitionBy: Seq[Column],
              orderBy: Seq[Column]): GFrame =
    withColumn(name, lag(c, offset).over(
      Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)))

  /** pandas groupby(...).transform(agg): the whole-group aggregate
    * broadcast back onto every member row (demeaning, z-scoring, share-of-
    * group features). An UNORDERED whole-partition window frame — one
    * shuffle on the keys, no per-partition sort at all (cheaper than the
    * ordered helpers above), and no self-join back to the rows. */
  def withGroupAgg(name: String, aggExpr: Column,
                   partitionBy: Seq[Column]): GFrame =
    withColumn(name, aggExpr.over(Window.partitionBy(partitionBy: _*)))

  /** pandas groupby(keys).filter(pred): keep every MEMBER ROW of the
    * groups whose aggregate satisfies the predicate — SQL HAVING that
    * returns rows, not groups. The aggregate lands on member rows through
    * the same unordered whole-partition window as [[withGroupAgg]] (one
    * shuffle on the keys, no sort, no agg-then-self-join), the predicate
    * filters, the helper column drops. */
  def groupFilter(keys: Seq[Column], aggExpr: Column,
                  pred: Column => Column): GFrame = {
    val g = df.withColumn("__ga",
      aggExpr.over(Window.partitionBy(keys: _*)))
    new GFrame(g.filter(pred(col("__ga"))).drop("__ga"), indexName)
  }

  /** pandas groupby(keys).head(n): the first n rows of each group under
    * `order` (ties must be broken by a unique column in `order` for
    * determinism). The filter sits DIRECTLY on the staged row_number, so
    * Spark's WindowGroupLimit rewrite runs per-partition top-n heaps
    * BEFORE the shuffle — the frame sibling of Series.nlargestBy.
    * groupby().tail(n) is this with the order reversed. */
  def groupHead(keys: Seq[Column], order: Seq[Column], n: Int): GFrame = {
    require(n >= 1, "n must be >= 1")
    val rn = row_number().over(
      Window.partitionBy(keys: _*).orderBy(order: _*))
    new GFrame(
      df.withColumn("__rn", rn).filter(col("__rn") <= n).drop("__rn"),
      indexName)
  }

  /** pandas df.drop_duplicates(subset=, keep='first'): one survivor per
    * subset-key group — the row with the smallest index label (pandas'
    * first occurrence; 'last' = largest). ONE unordered keyed window (min/
    * max label per subset partition), a single shuffle, no sort, no
    * self-join — the frame sibling of Series.dropDuplicates. (Spark's
    * native dropDuplicates picks an ARBITRARY row; this one is
    * deterministic.) */
  def dropDuplicatesBy(subset: Seq[Column],
                       keep: String = "first"): GFrame = {
    val w = Window.partitionBy(subset: _*)
    val flag = keep match {
      case "first" => col(indexName) > min(col(indexName)).over(w)
      case "last"  => col(indexName) < max(col(indexName)).over(w)
      case other => throw new IllegalArgumentException(
        s"keep must be first|last, got $other")
    }
    new GFrame(
      df.withColumn("__dup", flag).filter(!col("__dup")).drop("__dup"),
      indexName)
  }

  /** Unpivot/melt (pandas melt): wide metric columns → (variable, value)
    * rows. Native Expand node — one pass, no join/union of scans. */
  def melt(valueCols: Seq[String], varName: String = "variable",
           valueName: String = "value"): GFrame = {
    val ids = columns.filterNot(valueCols.contains).map(df(_))
    new GFrame(df.unpivot(ids.toArray, valueCols.map(df(_)).toArray,
      varName, valueName), indexName)
  }

  // ------------------------------------------------------------------ pivot

  /** Pivot `pivotCol` over explicit values (explicit → single pass, no
    * values-discovery job) aggregating `aggExpr`. */
  def pivot(groupCol: String, pivotCol: String, values: Seq[Any],
            aggExpr: Column): GFrame =
    new GFrame(df.groupBy(groupCol).pivot(pivotCol, values).agg(aggExpr),
      groupCol)

  /** pandas pivot_table(index=, columns=, values=, aggfunc=[...],
    * margins=): multi-aggregate pivot over EXPLICIT pivot values with
    * optional margins. Cell columns follow Spark's `<value>_<alias>`
    * spelling (single agg: just `<value>`); margins add an `All_<alias>`
    * column (each aggregate across ALL pivot values per group) and an
    * `'All'` row (each aggregate per pivot value across ALL groups, plus
    * the grand total) — every margin recomputes from the RAW rows, never
    * from the aggregated cells (a mean of means is wrong; same rule as
    * pandas). Plan shape: three partial+final aggregations over the same
    * scan, a keyed join of the per-group margins (group-cardinality
    * sized), and the single All row assembled from two 1-row results —
    * bounded driver state, no constant-key join (which Spark folds into
    * a BroadcastNestedLoopJoin). The group key is cast to string so the
    * 'All' label can ride it. */
  def pivotTable(groupCol: String, pivotCol: String, values: Seq[Any],
                 aggs: Seq[Column], margins: Boolean = false): GFrame = {
    require(aggs.nonEmpty, "pivotTable needs at least one aggregate")
    val g = col(groupCol).cast("string").as(groupCol)
    val cells = df.groupBy(g).pivot(pivotCol, values)
      .agg(aggs.head, aggs.tail: _*)
    val out =
      if (!margins) cells
      else {
        val colAll0 = df.groupBy(g).agg(aggs.head, aggs.tail: _*)
        val aliasNames = colAll0.columns.drop(1).toSeq
        val colAll = colAll0.select(col(groupCol) +:
          aliasNames.map(a => col(a).as(s"All_$a")): _*)
        val rowCells = df.groupBy(lit("All").as(groupCol))
          .pivot(pivotCol, values).agg(aggs.head, aggs.tail: _*)
        val rowAll = df.groupBy(lit("All").as(groupCol))
          .agg(aggs.head, aggs.tail: _*)
        // single All row: two 1-row aggregates assembled driver-side
        // (joining them on the constant key would fold into a BNLJ)
        val rc = rowCells.head()
        val ra = rowAll.head()
        val allSchema = org.apache.spark.sql.types.StructType(
          rowCells.schema.fields ++
            rowAll.schema.fields.drop(1).zip(aliasNames).map {
              case (f, a) => f.copy(name = s"All_$a")
            })
        val allDf = df.sparkSession.createDataFrame(
          java.util.Collections.singletonList(
            org.apache.spark.sql.Row.fromSeq(rc.toSeq ++ ra.toSeq.drop(1))),
          allSchema)
        cells.join(colAll, Seq(groupCol)).unionByName(allDf)
      }
    new GFrame(out, groupCol)
  }

  /** pandas `pd.crosstab(df[r], df[c])`: frequency table of rowCol ×
    * colCol — a pivot-count over explicit column values (single
    * partial+final pass, no values-discovery job); empty cells are 0,
    * matching pandas (pivot's count yields null there). Null row keys are
    * dropped (pandas drops NaN keys by default) and the zero-fill is scoped
    * to the pivoted value columns so a numeric rowCol is never rewritten. */
  def crosstab(rowCol: String, colCol: String, values: Seq[Any]): GFrame =
    new GFrame(df.filter(col(rowCol).isNotNull)
      .groupBy(rowCol).pivot(colCol, values)
      .agg(org.apache.spark.sql.functions.count(lit(1)))
      .na.fill(0L, values.map(_.toString)), rowCol)

  /** pandas df.corr(): pairwise Pearson correlation of the named numeric
    * columns, stacked as (c1, c2, corr) rows for the upper triangle
    * (incl. the 1.0 diagonal — the full square matrix is this frame
    * union its swap). ALL k(k+1)/2 co-moment aggregates run in ONE
    * partial+final pass over one scan — no per-pair jobs, no driver
    * matrix state beyond the single result row being stacked. */
  /** Per-group ordinary least squares y ~ a + b·x (pandas groupby()
    * .apply(linregress), closed form): ONE partial+final aggregation
    * computes (n, Σx, Σy, Σxy, Σx², Σy²) per group — map-side combine
    * does most of the work, no iteration, no second scan — and the
    * slope / intercept / r² close from the sums. Rows with a null on
    * either side drop out pairwise; degenerate groups (n < 2 or zero x
    * variance) yield null via try_divide. */
  def linFitBy(keys: Seq[String], xCol: Column, yCol: Column): GFrame = {
    require(keys.nonEmpty, "linFitBy needs at least one grouping key")
    val x = xCol.cast("double"); val y = yCol.cast("double")
    val both = x.isNotNull && y.isNotNull
    def s(c: Column) = sum(when(both, c))
    val agg = df.groupBy(keys.map(col): _*).agg(
      org.apache.spark.sql.functions.count(when(both, 1)).as("n"),
      s(x).as("__sx"), s(y).as("__sy"), s(x * y).as("__sxy"),
      s(x * x).as("__sx2"), s(y * y).as("__sy2"))
    val n = col("n").cast("double")
    val num = n * col("__sxy") - col("__sx") * col("__sy")
    val dx = n * col("__sx2") - col("__sx") * col("__sx")
    val dy = n * col("__sy2") - col("__sy") * col("__sy")
    val slope = try_divide(num, dx)
    new GFrame(agg.select(
      keys.map(col) ++ Seq(col("n"), slope.as("slope"),
        ((col("__sy") - slope * col("__sx")) / n).as("intercept"),
        try_divide(num * num, dx * dy).as("r2")): _*), keys.head)
  }

  def corrMatrix(cols: Seq[String]): GFrame = {
    require(cols.nonEmpty, "corrMatrix needs at least one column")
    val pairs = for {
      i <- cols.indices
      j <- i until cols.length
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      org.apache.spark.sql.functions.corr(col(a), col(b)).as(s"${a}__$b")
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stacked = pairs.map { case (a, b) => s"'$a', '$b', `${a}__$b`" }
      .mkString(", ")
    new GFrame(row.selectExpr(
      s"stack(${pairs.length}, $stacked) AS (c1, c2, corr)"), "c1")
  }

  /** pandas df.cov(): pairwise SAMPLE covariance of the named numeric
    * columns, stacked as (c1, c2, cov) rows for the upper triangle (incl.
    * the variance diagonal — the full square matrix is this frame union
    * its swap). Same one-pass shape as [[corrMatrix]]: all k(k+1)/2
    * covar_samp aggregates run in ONE partial+final pass over one scan. */
  def covMatrix(cols: Seq[String]): GFrame = {
    require(cols.nonEmpty, "covMatrix needs at least one column")
    val pairs = for {
      i <- cols.indices
      j <- i until cols.length
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      covar_samp(col(a).cast("double"), col(b).cast("double"))
        .as(s"${a}__$b")
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stacked = pairs.map { case (a, b) => s"'$a', '$b', `${a}__$b`" }
      .mkString(", ")
    new GFrame(row.selectExpr(
      s"stack(${pairs.length}, $stacked) AS (c1, c2, cov)"), "c1")
  }

  /** pandas get_dummies over EXPLICIT categories (one-hot encode): one
    * indicator column per value — a pure projection, no shuffle, no
    * values-discovery job (the 100 TB rule: category sets are declared,
    * not discovered). Null category → all-zero row (pandas
    * dummy_na=False); values absent from the list are likewise all-zero.
    * Column names are `<prefix>_<value>`, pandas' default spelling. */
  def getDummies(colName: String, values: Seq[String],
                 prefix: String = null): GFrame = {
    val p = Option(prefix).getOrElse(colName)
    new GFrame(df.select(df.columns.map(col).toIndexedSeq ++
      values.map(v =>
        when(col(colName) === lit(v), 1).otherwise(0).as(s"${p}_$v")): _*),
      indexName)
  }

  // ------------------------------------------------------------ null handling

  /** Replace nulls in the named columns with a constant (pandas fillna). */
  def fillna(value: Any, cols: Seq[String] = Nil): GFrame = {
    val targets = if (cols.isEmpty) columns.filterNot(_ == indexName) else cols
    new GFrame(targets.foldLeft(df)((d, c) =>
      d.withColumn(c, coalesce(d(c), lit(value)))), indexName)
  }

  /** Drop rows with nulls in any (or the named) columns (pandas dropna). */
  def dropna(cols: Seq[String] = Nil): GFrame = {
    val d = if (cols.isEmpty) df.na.drop() else df.na.drop(cols)
    new GFrame(d, indexName)
  }

  /** pandas `DataFrame.compare`: align on the `on` key columns and emit
    * one row per key whose compared cells differ, with `<col>_self` /
    * `<col>_other` pairs per column — equal cells null on both sides
    * (pandas keep_equal=False), all-equal rows dropped. One keyed
    * equi-join + a null-safe difference predicate (negated `<=>`), so
    * the plan is the ordinary broadcast/shuffle hash join of the key —
    * no cell-wise shuffle, no driver state. */
  def compare(other: GFrame, on: Seq[String], cols: Seq[String]): GFrame = {
    require(on.nonEmpty, "compare needs at least one key column")
    val l = df.select((on ++ cols).map(col): _*)
    val r = other.df.select(
      (on.map(col) ++ cols.map(c => col(c).as(s"__o_$c"))): _*)
    val j = l.join(r, on)
    val diffs = cols.map(c => !(col(c) <=> col(s"__o_$c")))
    val anyDiff = diffs.reduce(_ || _)
    val out = j.filter(anyDiff).select(
      on.map(col) ++ cols.zip(diffs).flatMap { case (c, d) =>
        Seq(when(d, col(c)).as(s"${c}_self"),
          when(d, col(s"__o_$c")).as(s"${c}_other"))
      }: _*)
    new GFrame(out, indexName)
  }

  /** Robust per-group outlier screen (median/MAD, the quality-filter
    * standard that survives heavy tails where mean/std saturate): per
    * group, the exact median, the median absolute deviation, and the
    * count of rows with `|x − med| > k·1.4826·mad` (1.4826 ≈ the
    * normal-consistency constant). Three passes by nature (med → mad →
    * count) — each a partial+final/percentile aggregate plus a bounded
    * |groups|-row broadcast join back. med/mad snap to the 6dp floor
    * grid BEFORE both output and the threshold comparison, so a 1-ulp
    * cross-engine median-interpolation difference can never flip an
    * outlier count. */
  def robustOutliers(groupCol: String, valCol: String,
                     k: Double = 3.0): GFrame = {
    val v = col(valCol).cast("double")
    def r6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    val meds = df.groupBy(col(groupCol))
      .agg(r6(percentile(v, lit(0.5))).as("med"))
    val withMed = df.join(broadcast(meds), groupCol)
    val mads = withMed.groupBy(col(groupCol))
      .agg(r6(percentile(abs(v - col("med")), lit(0.5))).as("mad"),
        first(col("med")).as("med"))
    val withMad = df.join(broadcast(mads), groupCol)
    val out = withMad.groupBy(col(groupCol))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
        first(col("med")).as("med"), first(col("mad")).as("mad"),
        sum(when(abs(v - col("med")) > lit(k) * lit(1.4826) * col("mad"),
          1L).otherwise(0L)).as("n_outliers"))
    new GFrame(out, groupCol)
  }

  /** Welch's unequal-variance two-sample t-test between EVERY pair of
    * groups — the A/B-experiment readout (does event value differ between
    * variants?). One partial+final aggregation collapses the data to a
    * |groups|-row stats frame (n, mean, sample variance); the pair join
    * then runs over that bounded frame only (|groups|² rows — never a
    * data-sized shuffle), and t plus the Welch–Satterthwaite degrees of
    * freedom are pure projections. Outputs round to the 6dp floor grid —
    * t and df are quotients, so the parallel-vs-sequential summation
    * drift (~1 ulp in mean/variance) stays far inside the grid. Groups
    * with n < 2 have no sample variance and drop from the pairing. */
  def welchTTest(groupCol: String, valCol: String): GFrame = {
    def r6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    val v = col(valCol).cast("double")
    val st = df.groupBy(col(groupCol).as("g"))
      .agg(org.apache.spark.sql.functions.count(v).as("n"),
        avg(v).as("mu"), var_samp(v).as("s2"))
      .filter(col("n") >= 2)
    val a = st.as("a"); val b = st.as("b")
    val sea = col("a.s2") / col("a.n")
    val seb = col("b.s2") / col("b.n")
    val se2 = sea + seb
    val t = (col("a.mu") - col("b.mu")) / sqrt(se2)
    val dfree = (se2 * se2) /
      (sea * sea / (col("a.n") - 1) + seb * seb / (col("b.n") - 1))
    val out = a.join(b, col("a.g") < col("b.g"))
      .select(col("a.g").as("g1"), col("b.g").as("g2"),
        col("a.n").as("n1"), col("b.n").as("n2"),
        r6(t).as("t6"), r6(dfree).as("df6"))
    new GFrame(out, "g1")
  }

  /** One-way ANOVA F-test of an INTEGRAL-valued column across the
    * groups of `groupCol` — does the group explain the variance
    * (the k-sample completion of [[welchTTest]]'s pairwise probe).
    * Output: one row per group (g, n, mean6) plus the closing
    * statistic columns (f6, df1, df2) repeated on every row, the
    * [[graft.ops.GraphOps.modularity]] reporting shape.
    *
    * Determinism (the e37 chi2 discipline): per-group n, Σx, Σx² are
    * exact order-free BIGINTs (values must be integral — quantities,
    * counts; NOT 2dp money, scale to cents upstream); each group's
    * between-term `(Σx)²/n` is ONE double division snapped to exact
    * 1e-6-unit longs, so the cross-group totals are order-free BIGINT
    * sums and F closes as a fixed-association double expression —
    * bit-identical in any engine before the 6dp output grid.
    * Degenerate designs (k < 2, N ≤ k, zero within-group variance)
    * yield null F rather than a silent Inf/NaN.
    * Assumes (Σx)² < 2⁶³ per group and Σx² < 2⁶³ globally — holds for
    * quantity-scale values at any row count below ~10¹² per group. */
  def anovaF(groupCol: String, valCol: String): GFrame = {
    val x = col(valCol).cast("long")
    val st = graft.Caches.track(df
      .groupBy(col(groupCol).as("g"))
      .agg(org.apache.spark.sql.functions.count(x).as("n"),
        sum(x).as("s"), sum(x * x).as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // between-term per group, snapped to exact micro-units
    val tu = floor(col("s").cast("double") * col("s").cast("double")
      / col("n").cast("double") * lit(1e6) + lit(0.5)).cast("long")
    // 1-row totals probe over the |groups| frame
    val t = st.select(col("n"), col("s"), col("q"), tu.as("tu"))
      .agg(sum(col("n")), sum(col("s")), sum(col("q")), sum(col("tu")),
        org.apache.spark.sql.functions.count(lit(1))).head()
    val bigN = t.getLong(0); val bigS = t.getLong(1)
    val bigQ = t.getLong(2); val sumTu = t.getLong(3)
    val k = t.getLong(4)
    val grand = bigS.toDouble * bigS.toDouble / bigN.toDouble
    val ssb = sumTu.toDouble / 1e6 - grand
    val ssw = bigQ.toDouble - sumTu.toDouble / 1e6
    val fOpt =
      if (k < 2 || bigN <= k || ssw <= 0.0) None
      else Some((ssb / (k - 1).toDouble) / (ssw / (bigN - k).toDouble))
    def r6d(v: Double): Double = math.floor(v * 1e6 + 0.5) / 1e6
    val out = st.select(col("g"), col("n"),
      (floor(col("s").cast("double") / col("n").cast("double")
        * lit(1e6) + lit(0.5)) / lit(1e6)).as("mean6"),
      fOpt.fold(lit(null).cast("double"))(f => lit(r6d(f))).as("f6"),
      lit(k - 1).as("df1"), lit(bigN - k).as("df2"))
    new GFrame(out, "g")
  }

  /** Per-group Gini coefficient of a non-negative 2dp money column —
    * the concentration/inequality measure (how unevenly order value,
    * corpus tokens, or traffic spread over a group's members):
    * `G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n` over the group's sorted
    * values. ONE exchange keyed by the group carries the rank window;
    * one partial+final aggregate closes the sums. Tie order cannot move
    * the answer (a tied block contributes x·Σranks however it is
    * ordered), but `tieCol` still totalizes the sort for deterministic
    * plans.
    *
    * Determinism: values snap to exact integer cents, so both Σx and
    * the rank-weighted Σi·x are order-free integer sums and G is one
    * fixed-association double expression — bit-identical in any engine
    * before the 6dp floor grid. Assumes Σi·x fits a signed 64-bit
    * (n²·max_cents < 2⁶³ — beyond ~10⁸ rows per group route the sum
    * through DECIMAL). */
  def giniBy(groupCol: String, valCol: String, tieCol: String): GFrame = {
    val cents = floor(col(valCol) * 100 + 0.5).cast("long")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(valCol).asc, col(tieCol).asc)
    val ranked = df
      .select(col(groupCol), col(valCol), col(tieCol), cents.as("__c"))
      .withColumn("__rk", row_number().over(w).cast("long"))
    val s = ranked.groupBy(col(groupCol).as("g"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
        sum(col("__c")).as("sc"),
        sum(col("__rk") * col("__c")).as("src"))
    val nD = col("n").cast("double")
    // degenerate groups (all-zero value sum) have no defined
    // concentration — null, never the silent NaN of a 0/0 division
    val out = s.select(col("g"), col("n"),
      when(col("sc") > 0L,
        floor((lit(2.0) * col("src").cast("double") /
          (nD * col("sc").cast("double")) - (nD + lit(1.0)) / nD)
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("gini6"))
    new GFrame(out, "g")
  }

  /** Pareto / contribution analysis of a non-negative 2dp money column
    * over this frame's keys — the 80/20 revenue-concentration report
    * ("which customers are the vital few"): each key's share, the
    * cumulative share of all keys with value ≥ its own (ties
    * totalized), and the vital-few flag (`pareto` = the strictly-above
    * prefix has not yet reached `threshold` of the total — the minimal
    * set covering the threshold).
    *
    * NEVER a single-task global window: per-distinct-cent totals run
    * through the range-bucket distributed cumsum
    * ([[graft.core.GlobalWindows]]) — the f51/t20 machinery — and join
    * back keyed by the cent value. Exact integer-cent sums make every
    * share a ratio of exact integers; the flag compares identical
    * doubles on both engines. */
  def pareto(valCol: String, threshold: Double = 0.8): GFrame = {
    val cents = floor(col(valCol) * 100 + 0.5).cast("long")
    val base = graft.Caches.track(
      df.select(col(indexName), cents.as("__c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val byC = base.groupBy("__c").agg(
      org.apache.spark.sql.functions.count(lit(1)).as("cnt"))
    val ser = Series.fromExpr(byC, col("__c") * col("cnt"), "tv",
      -col("__c"), "nc")
    val gw = ser.globalWindows()
    val cum = gw.result("tv" -> gw.value, "cum" -> gw.cumsum())
      .select((-col("nc")).as("__c"), col("tv"), col("cum"))
    val total = base.agg(sum(col("__c"))).head().getLong(0) // 1-row probe
    require(total > 0, "pareto needs a positive value total")
    def r6(c: Column): Column = graft.ops.TextOps.round6(c)
    val out = base.join(cum, "__c")
      .select(col(indexName),
        (col("__c").cast("double") / lit(100.0)).as("revenue"),
        r6(col("__c").cast("double") / lit(total.toDouble)).as("share6"),
        r6(col("cum").cast("double") / lit(total.toDouble))
          .as("cum_share6"),
        ((col("cum") - col("tv")).cast("double")
          < lit(threshold) * lit(total.toDouble)).as("pareto"))
    new GFrame(out, indexName)
  }

  /** Mergeable aggregate STATE per key — incremental view maintenance's
    * core: (count, sum, min, max) are all associative+commutative, so a
    * delta batch's state merges into the standing state with ONE keyed
    * sum/min/max ([[GFrame.mergeAggStates]]) and the maintained view
    * never re-reads history (the p15 datasheet discipline for keyed
    * aggregates). Derived stats (mean) close at read time from the
    * counters. Exact for integral-valued doubles within 2⁵³ (sums are
    * then order-free); route true money magnitudes through cents
    * upstream. */
  def aggState(valCol: String): GFrame = {
    val v = col(valCol).cast("double")
    new GFrame(df.groupBy(col(indexName)).agg(
      org.apache.spark.sql.functions.count(v).as("n"), sum(v).as("s"),
      min(v).as("mn"), max(v).as("mx")), indexName)
  }

  /** Merge two [[aggState]] frames (same key + counter columns): union +
    * one keyed reduce. The result is bit-equal to the state computed
    * over the concatenated inputs (f58 proves it against the full-data
    * oracle). */
  def mergeAggStates(other: GFrame): GFrame =
    new GFrame(
      df.unionByName(other.df)
        .groupBy(col(indexName))
        .agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
          min(col("mn")).as("mn"), max(col("mx")).as("mx")),
      indexName)

  /** Apply a CDC change batch to a snapshot (warehouse MERGE semantics):
    * `changes` carries the snapshot's columns plus `opCol` ∈
    * {'I','U','D'} — deletes remove their key, updates/inserts replace
    * or add theirs (upsert: an existing key under 'I' still replaces —
    * last-batch-wins, never a duplicate). Exactly TWO keyed operators at
    * any scale: one left-anti equi-join (survivors = snapshot keys not
    * in the batch) and one union with the batch's non-delete rows — the
    * change batch is typically small, so the anti-join broadcasts.
    * Assumes one change row per key per batch (dedupe upstream — e.g.
    * [[GFrame.dropDuplicatesBy]] keeping the latest — or the union
    * would carry both versions). */
  def applyChanges(changes: DataFrame, keyCol: String,
                   opCol: String): GFrame = {
    val out = df
      .join(changes.select(col(keyCol)), Seq(keyCol), "left_anti")
      .unionByName(changes.filter(col(opCol) =!= "D").drop(opCol))
    new GFrame(out, keyCol)
  }

  /** Mann–Whitney U rank-sum test (two-sided z approximation with tie
    * correction) between groups `g1` and `g2` of `groupCol` — the
    * nonparametric sibling of [[welchTTest]] for skewed / ordinal metrics.
    *
    * Never ranks row-by-row: ONE partial+final aggregate collapses the
    * data to per-distinct-value counts `(v, n₁ᵥ, n₂ᵥ)`, then the
    * range-bucket two-pass cumsum ([[GlobalWindows]] — never a
    * single-task global window) yields each value's "how many group-2
    * observations lie below" prefix, and
    * `U₁ = Σᵥ n₁ᵥ·(cum₂<ᵥ + n₂ᵥ/2)` closes in a 1-row aggregate. The
    * shuffles are distinct-value-sized, not data-sized.
    *
    * Determinism: every U term is an exact 0.5-multiple of integer
    * products (order-free parallel sum); z and the rank-biserial effect
    * size round to the 6dp floor grid. Assumes counts and their products
    * stay below 2⁵³ (true far past any real corpus). */
  def mannWhitney(groupCol: String, valCol: String,
                  g1: String, g2: String): GFrame = {
    def r6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    val v = col(valCol).cast("double")
    val counts = graft.Caches.track(df
      .filter(col(groupCol).isin(g1, g2) && v.isNotNull)
      .groupBy(v.as("v"))
      .agg(sum(when(col(groupCol) === g1, 1L).otherwise(0L)).as("na"),
        sum(when(col(groupCol) === g2, 1L).otherwise(0L)).as("nb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val ser = Series.fromExpr(counts, col("nb"), "nb", col("v"), "v")
    val gw = ser.globalWindows(extra = Seq("na" -> col("na")))
    val r = gw.result("na" -> col("na"), "nb" -> gw.value,
      "cb" -> gw.cumsum())
    val t = (col("na") + col("nb")).cast("double")
    val s = r.agg(
      sum(col("na")).as("n1"), sum(col("nb")).as("n2"),
      sum(col("na").cast("double") * (col("cb") - col("nb")).cast("double")
        + lit(0.5) * col("na") * col("nb")).as("u1"),
      sum(t * t * t - t).as("ties"))
    val n1d = col("n1").cast("double")
    val n2d = col("n2").cast("double")
    val nd = (col("n1") + col("n2")).cast("double")
    val mu = n1d * n2d / lit(2.0)
    val sig2 = n1d * n2d / lit(12.0) *
      ((nd + lit(1.0)) - col("ties") / (nd * (nd - lit(1.0))))
    val out = s.select(col("n1"), col("n2"), col("u1"),
      r6((col("u1") - mu) / sqrt(sig2)).as("z6"),
      r6(lit(1.0) - lit(2.0) * col("u1") / (n1d * n2d)).as("r_rb6"))
    new GFrame(out, "n1")
  }

  /** Weighted quantile per group: the value at which the running weight
    * (in `(valCol, tie)` order) first reaches `q` of the group's total
    * weight — weighted median at q = 0.5 (pandas has no native spelling;
    * the usual workaround is exactly this cumsum rule). ONE exchange
    * keyed by the group carries both windows (running and total weight —
    * same partitioning), then a min_by aggregate per group picks the
    * crossing row. Weights sum in their native numeric type; for
    * integral weights (counts, quantities) the crossing test is exact in
    * doubles. `tieCols` must make the sort order total or the crossing
    * row is nondeterministic. */
  def weightedQuantile(groupCol: String, valCol: String, wCol: String,
                       q: Double, tieCols: Seq[String]): GFrame = {
    require(q > 0.0 && q <= 1.0, "q must be in (0, 1]")
    val ord = (col(valCol) +: tieCols.map(col)).map(_.asc)
    val wRun = Window.partitionBy(col(groupCol)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol))
    val cum = sum(col(wCol)).over(wRun)
    val tot = sum(col(wCol)).over(wAll)
    val out = df
      .select(col(groupCol), col(valCol), cum.as("__cw"), tot.as("__tw"))
      .filter(col("__cw") >= col("__tw") * lit(q))
      .groupBy(col(groupCol))
      .agg(min_by(col(valCol), col("__cw")).as(s"wq_$valCol"))
    new GFrame(out, groupCol)
  }

  /** 2-D skyline (Pareto frontier): the points not dominated under
    * (minimize `xCol`, maximize `yCol`). Classic sort-scan spelling made
    * distributed: collapse ties to max-y per x (partial+final aggregate —
    * after which x is a unique index), then a point survives iff its y
    * strictly exceeds the EXCLUSIVE prefix max of y in ascending-x order.
    * That prefix max is [[GlobalWindows.cummaxExclusive]] — the
    * range-bucket plan, ONE shuffle keyed by bucket plus a bounded
    * per-bucket offset broadcast, never a single-task global window. */
  def skyline(xCol: String, yCol: String): GFrame = {
    val pts = df.groupBy(col(xCol).as("x")).agg(max(col(yCol)).as("y"))
    val ser = Series.fromExpr(pts, col("y"), "y", col("x"), "x")
    val gw = ser.globalWindows()
    val out = gw.result("y" -> gw.value, "__pm" -> gw.cummaxExclusive())
      .filter(col("__pm").isNull || col("y") > col("__pm"))
      .select(col("x"), col("y"))
    new GFrame(out, "x")
  }

  /** pandas `DataFrame.corrwith`: pairwise Pearson correlation of each
    * named column with the SAME-named column of `other`, aligned on the
    * `on` keys. One keyed equi-join + ONE partial+final aggregate
    * computing every corr pair, stacked to (colname, corr) rows in the
    * same stage — |cols| output rows, no per-column scans. */
  def corrwith(other: GFrame, on: Seq[String], cols: Seq[String]): GFrame = {
    require(on.nonEmpty && cols.nonEmpty, "corrwith needs keys and columns")
    val r = other.df.select(
      (on.map(col) ++ cols.map(c => col(c).as(s"__o_$c"))): _*)
    val j = df.select((on ++ cols).map(col): _*).join(r, on)
    val aggs = cols.map(c =>
      corr(col(c).cast("double"), col(s"__o_$c").cast("double")).as(c))
    val row = j.agg(aggs.head, aggs.tail: _*)
    val stacked = row.select(
      explode(map(cols.flatMap(c => Seq(lit(c), col(c))): _*))
        .as(Seq("colname", "corr")))
    new GFrame(stacked, "colname")
  }

  def count(): Long = df.count()
  def toDF: DataFrame = df
}

/** Grouped frame: agg returns a GFrame keyed by the first group column. */
final class GGroupBy private[graft] (g: RelationalGroupedDataset, parent: GFrame) {
  def agg(first: Column, rest: Column*): GFrame = {
    val out = g.agg(first, rest: _*)
    new GFrame(out, out.schema.names.head)
  }
  def count(): GFrame = {
    val out = g.count()
    new GFrame(out, out.schema.names.head)
  }
}

object GFrame {
  /** Wrap a DataFrame, keying it on `indexCol`. The index is data (a real
    * key column), never row position — row order carries no meaning on a
    * distributed frame. */
  def fromDF(df: DataFrame, indexCol: String): GFrame = new GFrame(df, indexCol)

  /** Build from named Series; first Series provides the index, the rest
    * align by index equi-join (outer — pandas DataFrame-from-dict). */
  def fromSeries(first: Series, rest: Series*): GFrame = {
    val head = first.df.select(col(first.indexName), col(first.name))
    val joined = rest.foldLeft(head) { (acc, s) =>
      acc.join(s.df.select(col(s.indexName).as(first.indexName), col(s.name)),
        Seq(first.indexName), "full_outer")
    }
    new GFrame(joined, first.indexName)
  }
}
