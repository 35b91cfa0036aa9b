package graft.engine

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Z-order (Morton-curve) clustered writes — multi-dimensional data
  * skipping for file/row-group min-max stats.
  *
  * [[Warehouse.writeClustered]]'s single ORDER BY (the MergeTree sparse-
  * index analog, ref ods.action_001_dis.sql:18-22) skips perfectly on the
  * leading sort column and not at all on columns uncorrelated with it. At
  * 100 TB a fact table usually has two or three dominant filter dimensions
  * (user, item, time); interleaving their bits into one clustering value
  * keeps every file's min-max box NARROW IN ALL OF THEM, so a point or
  * range filter on ANY clustered dimension prunes ~(1 - 1/2^bits·…) of the
  * files instead of scanning everything. Same layout idea Delta/Iceberg
  * expose as `OPTIMIZE ... ZORDER BY`; here it is plain Spark: a pure
  * Column expression for the z-value + repartitionByRange + in-partition
  * sort, nothing engine-specific.
  *
  * Implementation choices, sized for scale:
  *  - ranks are EQUI-DEPTH (approxQuantile boundaries), not min-max linear:
  *    skewed columns still spread across all 2^bits buckets. The stats pass
  *    is one bounded driver collect of 2^bits−1 cut points per numeric
  *    column (the standard quantile-sketch pass any OPTIMIZE job pays).
  *  - string/binary columns rank by their xxhash64 TOP BITS — stats-free,
  *    uniform by construction; min-max pruning is meaningless for hashed
  *    order, but bucket-locality still confines each distinct value to a
  *    1/2^bits slice of the files (pair with a bloom filter for point
  *    lookups, [[Warehouse.writeClustered]] bloomFilterCols).
  *  - the z-value is a Long built from shifts/ands/ors — whole-stage
  *    codegen keeps the clustering pass a single map over the data.
  */
object ZOrder {

  /** The z-value column: `cols` bucketed to `bits`-bit ranks and bit-
    * interleaved (column i contributes bit j at position `j·k + i`).
    * `df` is only consulted for schema and the quantile stats pass.
    */
  def zvalue(df: DataFrame, cols: Seq[String], bits: Int = 8): Column = {
    require(cols.nonEmpty, "zvalue needs at least one clustering column")
    require(bits >= 1 && bits <= 16 && bits * cols.size <= 63,
      s"bits must be 1..16 (the stats pass collects 2^bits-1 cut points " +
        s"per column) and bits*cols must fit a Long: got $bits*${cols.size}")
    val n = 1 << bits
    // Numeric columns need a quantile stats pass for equi-depth cut points;
    // ONE multi-column approxQuantile job covers them all (it skips nulls
    // per column, so it equals the per-column na.drop pass) — k numeric
    // dimensions must not mean k full scans of a 100 TB source.
    val numericOf: Map[String, Column] = cols.flatMap { c =>
      df.schema(c).dataType match {
        case StringType | BinaryType => None
        case DateType => Some(c -> col(c).cast(IntegerType).cast(DoubleType))
        case TimestampType | TimestampNTZType =>
          Some(c -> col(c).cast(LongType).cast(DoubleType))
        case _ => Some(c -> col(c).cast(DoubleType))
      }
    }.toMap
    val numericNames = cols.filter(numericOf.contains)
    val probs = (1 until n).map(_.toDouble / n).toArray
    val cutsOf: Map[String, Array[Double]] =
      if (numericNames.isEmpty) Map.empty
      else {
        val qNames = numericNames.indices.map(i => s"__zq$i")
        val qDf = df.select(numericNames.zip(qNames).map { case (c, q) =>
          numericOf(c).as(q) }: _*)
        numericNames.zip(
          qDf.stat.approxQuantile(qNames.toArray, probs, 1.0 / (4 * n))).toMap
      }
    val ranks: Seq[Column] = cols.map { c =>
      df.schema(c).dataType match {
        case StringType | BinaryType =>
          shiftrightunsigned(xxhash64(col(c)), 64 - bits)
        case _ =>
          val numeric = numericOf(c)
          val cuts = cutsOf(c)
          if (cuts.isEmpty) lit(0L) // empty input: any constant rank
          else {
            val arr = lit(cuts)
            // rank = #boundaries <= x; nulls sort first (bucket 0)
            when(numeric.isNull, lit(0L))
              .otherwise(size(filter(arr, b => b <= numeric)).cast(LongType))
          }
      }
    }
    val k = cols.size
    ranks.zipWithIndex.foldLeft(lit(0L)) { case (acc, (r, i)) =>
      (0 until bits).foldLeft(acc) { (a, j) =>
        a.bitwiseOR(shiftleft(
          shiftrightunsigned(r, j).bitwiseAND(lit(1L)), j * k + i))
      }
    }
  }

  /** `OPTIMIZE ... ZORDER BY` for an existing parquet table: rewrite it
    * z-order-clustered IN PLACE with a staged atomic swap
    * ([[graft.Durable.swap]]: write to `.zorder.tmp`, stage the live table
    * at `.zorder.old`, swap, drop the stage — readers see the old or the
    * new layout, never a mix; a failed swap rolls back loudly). For a
    * partitioned table pass `partitionCols` — EVERY directory level, in
    * order (day=X/hour=Y needs Seq("day", "hour")): the layout is
    * preserved and the Morton
    * clustering applies WITHIN each leaf partition (range-partitioned on
    * (partitions..., z), so each partition's files still cover contiguous
    * z-ranges). The levels are discovered from the directories and must
    * match `partitionCols` exactly — a missing level would be silently
    * rewritten out of the layout into the data files (and, with inference
    * off for the round trip, permanently retyped to string), so any
    * mismatch refuses loudly instead.
    *
    * Crash window: between the two renames the table lives only at
    * `.zorder.old`. [[recover]] (also called on entry here) restores it —
    * call it at open time from any long-lived process that optimizes, the
    * same discipline as StateTable's staged-swap recovery.
    */
  def optimize(spark: org.apache.spark.sql.SparkSession, path: String,
      cols: Seq[String], bits: Int = 8, partitionCols: Seq[String] = Nil,
      numFiles: Int = 0): Unit = {
    recover(spark, path)
    val (live, tmp, old) = staged(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the ACTUAL directory-partition levels, discovered recursively — a
    // level partitionCols does not cover would be read FLATTENED (its dirs
    // baked into data columns, with inference off: as strings) and the
    // layout silently rewritten; refuse on any mismatch instead
    val levels = partitionLevels(fs, live)
    require(partitionCols == levels,
      s"optimize: the table's directory-partition levels are " +
        s"[${levels.mkString(", ")}] but partitionCols is " +
        s"[${partitionCols.mkString(", ")}] — pass every level, in order, " +
        "to preserve the layout")
    // Partition-column type inference OFF for the round trip: inference
    // would canonicalize string partition values that look numeric
    // (code=007 read back as int 7 and rewritten as code=7 — a permanent
    // value mutation). With inference off the directory values re-write
    // byte-identical; later reads still infer as before. The toggle lives
    // on an ISOLATED child session (newSession shares the SparkContext,
    // not the conf), so concurrent readers of OTHER partitioned tables in
    // the calling session keep their inferred types for the whole —
    // possibly long — rewrite.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions",
      spark.sessionState.conf.numShufflePartitions)
    val df = s2.read.parquet(path)
    partitionCols.foreach(pc => require(df.columns.contains(pc),
      s"optimize: no partition column $pc"))
    graft.Durable.swap(fs, live, tmp, old, Nil, "optimize") {
      writeZOrdered(df, tmp.toString, cols, bits, numFiles,
        mode = "overwrite", partitionBy = partitionCols)
    }
  }

  private def staged(path: String) =
    (new Path(path), new Path(path + ".zorder.tmp"), new Path(path + ".zorder.old"))

  /** The table's directory-partition column names, outermost first,
    * discovered by walking `name=value` directories level by level (all
    * sibling branches — a hive layout is homogeneous, and a level whose
    * branches disagree on the column name is corrupt and refused).
    */
  private def partitionLevels(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var frontier: Seq[Path] = Seq(root)
    while (frontier.nonEmpty) {
      val dirs = frontier.flatMap(p => fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .map(_.getPath))
      if (dirs.isEmpty) frontier = Nil
      else {
        val names = dirs.map(_.getName.takeWhile(_ != '=')).distinct
        require(names.size == 1,
          s"optimize: inconsistent partition directory names at level " +
            s"${out.size}: ${names.mkString(", ")}")
        out += names.head
        frontier = dirs
      }
    }
    out.toSeq
  }

  /** Open-time recovery for [[optimize]]'s crash window: a table absent at
    * its path but present at `.zorder.old` moves back; a leftover stage
    * beside a live table is dropped. No-op otherwise.
    */
  def recover(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val (live, tmp, old) = staged(path)
    graft.Durable.recover(live.getFileSystem(spark.sparkContext.hadoopConfiguration),
      live, tmp, old, Nil)
  }

  /** Write `df` z-order-clustered by `cols` into `numFiles` range slices of
    * the Morton curve (0 = the session's shuffle parallelism). Each output
    * file covers one contiguous z-range, so its min-max box is narrow in
    * EVERY clustered dimension.
    */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
      bits: Int = 8, numFiles: Int = 0, mode: String = "overwrite",
      partitionBy: Seq[String] = Nil): Unit = {
    require(!df.columns.contains("__z"),
      "writeZOrdered: the input already has a column named __z (it would be " +
        "overwritten by the clustering value and dropped from the output)")
    val n =
      if (numFiles > 0) numFiles
      else df.sparkSession.sessionState.conf.numShufflePartitions
    // with partitionBy, range-partition on (partitions..., z): the
    // directory layout is preserved and each leaf partition's files cover
    // contiguous z-ranges
    val rangeCols = partitionBy.map(col) :+ col("__z")
    val clustered = df.withColumn("__z", zvalue(df, cols, bits))
      .repartitionByRange(n, rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
      .drop("__z")
    val w = clustered.write.mode(mode)
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)).parquet(path)
  }
}
