package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ClickHouse `ORDER BY <col> WITH FILL [FROM a] [TO b] [STEP s]
  * [INTERPOLATE (col [AS expr], ...)]` — gap densification for ordered
  * reports: grid points of the fill axis that have no row are inserted
  * (other columns null), original rows — including ones off the step
  * grid — are kept untouched, and the result is ordered by the axis.
  * `TO` is exclusive, like CH.
  *
  * INTERPOLATE computes a filled row's column from the PREVIOUS row (CH
  * semantics — the previous row may itself be filled, so `c AS c + k`
  * accumulates per filled step). Supported expression forms: `c` /
  * `c AS c` (carry-forward) and `c AS c ± <const>` (linear per-step
  * accumulation) — the closed-form-expressible subset; anything else is
  * refused rather than silently mis-evaluated.
  *
  * Shape: the synthesized axis is a `spark.range` of the grid (tiny —
  * it's a report axis), anti-joined against the present keys to find the
  * holes, unioned back, and sorted. The data side is an already-aggregated
  * report, so the union and final sort are the cheap tail of the query;
  * nothing here scales with the raw input. Interpolation adds one window
  * pass over the report (run-id prefix sum + per-run offset), still
  * report-sized.
  */
object WithFill {

  /** An INTERPOLATE item: filled rows get `prev(col) + slope * steps`
    * (slope 0 = carry-forward), where `prev` is the last REAL row's value
    * and `steps` counts filled rows since it.
    */
  final case class Interpolation(column: String, slope: Long = 0L)

  /** Densify `df`'s `orderCol` over [from, to) with `step`. */
  def densify(df: DataFrame, orderCol: String, from: Long, to: Long,
      step: Long = 1L, interpolate: Seq[Interpolation] = Nil): DataFrame = {
    require(step > 0, s"WITH FILL STEP must be positive, got $step")
    val s = df.sparkSession
    val axisType = df.schema(orderCol).dataType
    val axis = s.range(from, math.max(from, to), step)
      .select(col("id").cast(axisType).as(orderCol))
    val holes = axis.join(df.select(orderCol).distinct(), Seq(orderCol), "left_anti")
    if (interpolate.isEmpty)
      return df.unionByName(holes, allowMissingColumns = true).orderBy(orderCol)

    interpolate.foreach { i =>
      require(df.columns.exists(_.equalsIgnoreCase(i.column)),
        s"INTERPOLATE ${i.column}: no such column in the report") }
    // mark origin, then closed-form the sequential CH walk: group rows by
    // the last REAL row before them (prefix count of real rows), position
    // within the group = filled steps since that row
    val marked = df.withColumn("__filled", lit(false))
      .unionByName(holes.withColumn("__filled", lit(true)),
        allowMissingColumns = true)
    val ord = Window.orderBy(orderCol)
    val run = sum(when(col("__filled"), 0).otherwise(1)).over(
      ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val withRun = marked.withColumn("__run", run)
    val byRun = Window.partitionBy(col("__run")).orderBy(orderCol)
    val steps = row_number().over(byRun) - 1
    val out = interpolate.foldLeft(withRun) { (acc, i) =>
      val prevReal = first(when(!col("__filled"), col(i.column)), ignoreNulls = false)
        .over(byRun.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      val filledVal: Column =
        if (i.slope == 0L) prevReal
        else prevReal + lit(i.slope) * steps
      // rows before the first real row (__run = 0) stay null, like CH
      acc.withColumn(i.column,
        when(col("__filled") && col("__run") > 0, filledVal)
          .otherwise(col(i.column)))
    }
    out.drop("__filled", "__run").orderBy(orderCol)
  }

  private val fillRe =
    ("""(?is)\border\s+by\s+(\w+)\s+with\s+fill""" +
      """(?:\s+from\s+(-?\d+))?(?:\s+to\s+(-?\d+))?(?:\s+step\s+(-?\d+))?""" +
      """(?:\s+interpolate\s*\(([^)]*)\))?""").r

  /** Parse the INTERPOLATE item list: `c`, `c AS c`, `c AS c ± k`. */
  private def parseInterpolate(spec: String): Seq[Interpolation] =
    spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { item =>
      val itemRe = """(?is)^(\w+)(?:\s+as\s+(\w+)(?:\s*([+-])\s*(\d+))?)?$""".r
      itemRe.findFirstMatchIn(item) match {
        case Some(m) =>
          val (c, target) = (m.group(1), Option(m.group(2)))
          require(target.forall(_.equalsIgnoreCase(c)),
            s"INTERPOLATE ($item): only self-referencing expressions are supported")
          val slope = (Option(m.group(3)), Option(m.group(4))) match {
            case (Some("-"), Some(k)) => -k.toLong
            case (Some(_), Some(k)) => k.toLong
            case _ => 0L
          }
          Interpolation(c, slope)
        case None => sys.error(
          s"INTERPOLATE ($item): unsupported form — use c, c AS c, or c AS c ± const")
      }
    }

  /** `query` split at its one `ORDER BY ... WITH FILL` clause: the text
    * with the modifier stripped (the plain ORDER BY stays), and the step
    * that densifies (+ interpolates) that text's result — the last step of
    * the dialect front door ([[graft.engine.ChSql.run]]). FROM/TO default
    * to the result's own min / max+step (the CH behavior when the bounds
    * are omitted). Without a WITH FILL clause: `query` and the identity.
    */
  private[graft] def split(query: String): (String, DataFrame => DataFrame) = {
    // matched on the masked twin: a WITH FILL inside a literal is text
    val m = fillRe.findFirstMatchIn(graft.engine.ChSql.maskStrings(query))
      .getOrElse(return (query, identity))
    val orderCol = m.group(1)
    val step = Option(m.group(4)).map(_.toLong).getOrElse(1L)
    val interp = Option(m.group(5)).map(_ => parseInterpolate(
      query.substring(m.start(5), m.end(5)))).getOrElse(Nil)
    val stripped = query.substring(0, m.start) +
      s" ORDER BY $orderCol " + query.substring(m.end)
    (stripped, { base =>
      val (from, to) = (Option(m.group(2)).map(_.toLong), Option(m.group(3)).map(_.toLong)) match {
        case (Some(a), Some(b)) => (a, b)
        case (a, b) =>
          // bounds from the data itself — the report result is small by
          // construction, so this extra aggregate is cheap
          val r = base.agg(min(col(orderCol)).cast("long"), max(col(orderCol)).cast("long")).head()
          require(!r.isNullAt(0), "WithFill: empty result and no FROM/TO bounds")
          (a.getOrElse(r.getLong(0)), b.getOrElse(r.getLong(1) + step))
      }
      densify(base, orderCol, from, to, step, interp)
    })
  }
}
