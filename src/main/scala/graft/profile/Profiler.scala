package graft.profile

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-column statistics record — the Spark shape of the reference's
  * `BaseColumnInfo` stats (`base_scema_analyzer.py:7-16`,
  * `schema_analyzer.py:74-90`).
  */
final case class ColumnProfile(
    name: String,
    sparkType: DataType,
    count: Long,
    nullCount: Long,
    distinctCount: Long,
    minNumeric: Option[Double],
    maxNumeric: Option[Double],
    allIntegral: Boolean,
    maxDecimalPlaces: Int,
    maxStrLen: Int,
    sampleValues: Seq[String]) {
  /** `schema_analyzer.py:80-81` unique ratio. */
  def uniqueRatio: Double =
    if (count == 0) 0.0 else distinctCount.toDouble / count
}

/** Single-pass column profiler.
  *
  * The reference computes each stat with a separate pandas call over a
  * 10k sample (`schema_analyzer.py:74-90`, `type_inference_engine.py:
  * 85-131`). Here every metric for every column is one composed
  * aggregate expression, so the whole table profile is ONE distributed
  * scan + ONE partial/final aggregation — no sampling needed at any
  * scale (each metric carries O(1) state; countDistinct is the
  * exception and can be switched to HLL via `exact = false` for
  * 100 TB profiling runs).
  */
object Profiler {

  /** Rows in the sample-values probe — the reference's 10k sample size
    * (`type_inference_engine.py` sampling). */
  val SampleProbeRows = 10000

  /** Lifetime count of full profiling scans — an ops metric; schema
    * reuse (`Orchestrator.loadFile`) is observable as this NOT
    * advancing on a re-load.
    */
  val profileRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** Max observed decimal places of a numeric column's string form —
    * the reference's `len(str(float(x)).split('.')[-1])` analysis
    * (`type_inference_engine.py:103-107`). `.0` floats count as 0.
    *
    * Doubles outside ~[1e-3, 1e7) cast to scientific notation
    * ("1.23456789E7", "1.5E-8"), where the positional decimal count is
    * len(fraction-sans-trailing-zeros) − exponent, floored at 0 —
    * matching the native `profile_col` path's BigDecimal expansion
    * exactly. Trailing-zero stripping is a no-op for plain doubles
    * (shortest-repr stringification never emits them beyond ".0").
    */
  private def decimalPlacesExpr(c: Column): Column = {
    val s = c.cast("string")
    val frac = regexp_replace(
      regexp_extract(s, "\\.(\\d+)([Ee][+-]?\\d+)?$", 1), "0+$", "")
    val expStr = regexp_extract(s, "[Ee]([+-]?\\d+)$", 1)
    // ANSI mode: cast only inside the non-empty branch (CASE is lazy)
    val exp = when(expStr === "", lit(0)).otherwise(expStr.cast("int"))
    greatest(lit(0), length(frac) - exp)
  }

  private def isNumeric(dt: DataType): Boolean = dt.isInstanceOf[NumericType]

  def profile(df: DataFrame, exact: Boolean = true,
      nSampleValues: Int = 5): Seq[ColumnProfile] = {
    profileRuns.incrementAndGet()
    val fields = df.schema.fields.toSeq
    val aggs: Seq[Column] = fields.flatMap { f =>
      val c = col(f.name)
      val distinctAgg =
        if (exact) countDistinct(c)
        else approx_count_distinct(c)
      // `schema_analyzer.py:77`: count is len(data) — total rows, nulls included
      val base = Seq(
        count(lit(1)).as(s"${f.name}__cnt"),
        count(when(c.isNull, 1)).as(s"${f.name}__nulls"),
        distinctAgg.as(s"${f.name}__distinct"))
      val numeric =
        if (isNumeric(f.dataType)) Seq(
          min(c.cast("double")).as(s"${f.name}__min"),
          max(c.cast("double")).as(s"${f.name}__max"),
          // bool_and over "is this value integral" — `:87-91`
          coalesce(expr(s"bool_and(`${f.name}` = floor(`${f.name}`))"), lit(true))
            .as(s"${f.name}__integral"),
          max(decimalPlacesExpr(c)).as(s"${f.name}__decplaces"))
        else Nil
      val str =
        if (!isNumeric(f.dataType)) Seq(
          max(length(c.cast("string"))).as(s"${f.name}__maxlen"))
        else Nil
      base ++ numeric ++ str
    }
    val row: Row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def g[T](n: String): T = row.getAs[T](n)
    def gOpt(n: String): Option[Double] =
      if (row.isNullAt(row.fieldIndex(n))) None else Some(row.getAs[Double](n))

    // Top-N sample values for ALL columns from ONE bounded probe job —
    // the reference itself samples (10k rows, `schema_analyzer.py:47`).
    // The old shape (distinct().limit(n) per column) launched one job
    // per column: a 100-column table meant 100 scheduled scans.
    val probe = df
      .select(fields.map(f => col(f.name).cast("string").as(f.name)): _*)
      .limit(SampleProbeRows).collect()
    def samplesFor(i: Int): Seq[String] =
      probe.iterator.map(_.getString(i)).filter(_ != null)
        .distinct.take(nSampleValues).toSeq

    fields.zipWithIndex.map { case (f, fi) =>
      val numeric = isNumeric(f.dataType)
      val samples = samplesFor(fi)
      ColumnProfile(
        name = f.name,
        sparkType = f.dataType,
        count = g[Long](s"${f.name}__cnt"),
        nullCount = g[Long](s"${f.name}__nulls"),
        distinctCount = g[Long](s"${f.name}__distinct"),
        minNumeric = if (numeric) gOpt(s"${f.name}__min") else None,
        maxNumeric = if (numeric) gOpt(s"${f.name}__max") else None,
        allIntegral = if (numeric) g[Boolean](s"${f.name}__integral") else false,
        maxDecimalPlaces =
          if (numeric) Option(row.getAs[Any](s"${f.name}__decplaces"))
            .map(_.toString.toInt).getOrElse(0)
          else 0,
        maxStrLen =
          if (!numeric) Option(row.getAs[Any](s"${f.name}__maxlen"))
            .map(_.toString.toInt).getOrElse(0)
          else 0,
        sampleValues = samples)
    }
  }

  /** Single-buffer fast path: one `profile_col` TypedImperativeAggregate
    * per column + HLL distinct — one scan, no Expand (the exact
    * multi-column countDistinct in [[profile]] replicates input rows
    * once per distinct aggregate). Metric semantics match [[profile]]
    * except distinctCount is approximate.
    */
  def profileFast(df: DataFrame): Seq[ColumnProfile] = {
    val fields = df.schema.fields.toSeq
    val aggs = fields.flatMap { f =>
      // non-numeric columns profile through their SQL string form so
      // maxStrLen matches the composed path (internal reps like
      // timestamp micros would otherwise measure the wrong string)
      val input =
        if (isNumeric(f.dataType)) col(f.name) else col(f.name).cast("string")
      Seq(call_function("profile_col", input).as(s"${f.name}__p"),
        approx_count_distinct(col(f.name)).as(s"${f.name}__distinct"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    fields.map { f =>
      val p = row.getStruct(row.fieldIndex(s"${f.name}__p"))
      val numeric = isNumeric(f.dataType)
      ColumnProfile(
        name = f.name,
        sparkType = f.dataType,
        count = p.getAs[Long]("count"),
        nullCount = p.getAs[Long]("nulls"),
        distinctCount = row.getAs[Long](s"${f.name}__distinct"),
        minNumeric =
          if (numeric && !p.getAs[Double]("min_n").isNaN)
            Some(p.getAs[Double]("min_n")) else None,
        maxNumeric =
          if (numeric && !p.getAs[Double]("max_n").isNaN)
            Some(p.getAs[Double]("max_n")) else None,
        allIntegral = numeric && p.getAs[Boolean]("all_integral"),
        maxDecimalPlaces = if (numeric) p.getAs[Int]("max_dec") else 0,
        maxStrLen = if (!numeric) p.getAs[Int]("max_len") else 0,
        sampleValues = Nil)
    }
  }

  /** Ordered-column monotonicity (`schema_analyzer.py:88`) — requires
    * an explicit order column because Spark has no row order (SURVEY
    * §7.4.3). Nondecreasing/nonincreasing like pandas
    * `is_monotonic_increasing or is_monotonic_decreasing`.
    *
    * No global window (that is a single-task total sort): range-
    * partition by the order column so partition ids ascend with the
    * range, check adjacency WITHIN each partition in parallel, then
    * stitch the P partition boundaries IN-PLAN with a `lead` window
    * over the P-row per-partition frame — the whole check is one
    * distributed pass plus a P-row window + scalar aggregate; the only
    * value reaching the driver is the final (nondec, noninc) pair.
    */
  def isMonotonic(df: DataFrame, valueCol: String, orderCol: String): Boolean = {
    import org.apache.spark.sql.expressions.Window
    val d = df.select(col(valueCol).cast("double").as("v"), col(orderCol).as("o"))
      .repartitionByRange(col("o"))
      .withColumn("__pid", spark_partition_id())
    val pw = Window.partitionBy(col("__pid")).orderBy(col("o"))
    val parts = d.withColumn("prev", lag(col("v"), 1).over(pw))
      .groupBy(col("__pid"))
      .agg(
        coalesce(expr("bool_and(CASE WHEN prev IS NULL THEN TRUE ELSE v >= prev END)"),
          lit(true)).as("nondec"),
        coalesce(expr("bool_and(CASE WHEN prev IS NULL THEN TRUE ELSE v <= prev END)"),
          lit(true)).as("noninc"),
        min_by(col("v"), col("o")).as("first_v"),
        max_by(col("v"), col("o")).as("last_v"))
    // single-partition window is fine: the frame has one row per range
    // partition (P rows), and range partition ids ascend with the range
    val bw = Window.orderBy(col("__pid"))
    val r = parts
      .withColumn("next_first", lead(col("first_v"), 1).over(bw))
      // a NULL edge value (all-null partition, or no next partition)
      // has nothing to compare — the within-partition flags carry it
      .agg(
        coalesce(expr("bool_and(nondec AND (last_v IS NULL OR " +
          "next_first IS NULL OR next_first >= last_v))"), lit(true)).as("nd"),
        coalesce(expr("bool_and(noninc AND (last_v IS NULL OR " +
          "next_first IS NULL OR next_first <= last_v))"), lit(true)).as("ni"))
      .head()
    r.getBoolean(0) || r.getBoolean(1)
  }

  /** Equal-width histogram: bin = ⌊(x − min) / width⌋ clamped to the
    * last bin (the max lands inside, not past, the range). Two passes:
    * a scalar min/max aggregate broadcast into a per-row bin
    * expression, then one aggregation shuffle on the bin id — the
    * distributed shape of the reference's profiling statistics, and
    * all-IEEE math so any engine reproduces the bin edges bit-exactly.
    * Degenerate all-equal columns land in bin 0.
    */
  def histogram(df: DataFrame, valueCol: String, nBins: Int): DataFrame = {
    require(nBins > 0, s"nBins must be positive, got $nBins")
    val v = col(valueCol).cast("double")
    val b = df.agg(min(v).as("lo"), max(v).as("hi"))
    df.select(v.as("__v")).na.drop()
      .crossJoin(broadcast(b))
      .select(
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(
            floor((col("__v") - col("lo")) /
              ((col("hi") - col("lo")) / nBins)).cast("long"),
            lit(nBins - 1L))).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bin")
  }

  /** Profile → inferred SQL schema, the `analyze_schema` composition
    * (`schema_analyzer.py:24-53`): profile each column, infer its SQL
    * type, sanitize names, emit DDL columns.
    */
  def analyzeSchema(df: DataFrame, exact: Boolean = true)
      : Seq[(ColumnProfile, graft.schema.DdlGenerator.ColumnDef)] = {
    profile(df, exact).map { p =>
      val sqlType = graft.schema.TypeInference.infer(p)
      p -> graft.schema.DdlGenerator.ColumnDef(
        graft.schema.Names.cleanColumnName(p.name), sqlType,
        nullable = p.nullCount > 0)
    }
  }
}
