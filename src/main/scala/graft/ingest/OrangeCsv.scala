package graft.ingest

import graft.core.TimeseriesFrame
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

/** Reader for the reference's 3-row-header .csv/.tab format
  * (`Timeseries.from_file`, `timeseries.py:183-186`; see
  * `datasets/airpassengers.csv:1-3`): row 1 = column names, row 2 = type
  * flags (`t` time, `c` continuous, `d` discrete, `s` string), row 3 = role
  * flags (`class`, `meta`, empty = feature).
  *
  * Column roles are carried as column `Metadata` (`role` ∈ feature/target/
  * meta) — the Spark re-expression of Orange's Domain tri-partition
  * (SURVEY §1.3). The first `t` column becomes the time column
  * (`timeseries.py:122-141` auto-detection).
  */
object OrangeCsv {

  def read(spark: SparkSession, path: String, sep: String = ","): TimeseriesFrame = {
    val raw = spark.read
      .option("header", "false").option("sep", sep)
      .csv(path)
    // the header walk below takes the first 3 rows of scan partition 0;
    // with several files, splits are packed largest-first and partition 0
    // need not start with the header
    val files = raw.inputFiles
    require(files.length == 1,
      s"$path: expected exactly one file (3 header rows + data), found ${files.length}")
    val cols = raw.columns
    val head = raw.limit(3).collect()
    require(head.length == 3, s"$path: expected 3 header rows")
    val names = head(0).toSeq.map(_.toString)
    val types = head(1).toSeq.map(v => Option(v).map(_.toString).getOrElse(""))
    val roles = head(2).toSeq.map(v => Option(v).map(_.toString).getOrElse(""))

    // drop the 3 header rows: everything whose first column is one of the
    // header values won't work for data that repeats them — instead re-read
    // with a monotonic id and skip the first 3 in file order
    val withId = raw.withColumn("__id", monotonically_increasing_id())
    val data = withId.filter(col("__id") >= 3)

    val parsed = names.zipWithIndex.map { case (name, i) =>
      val c = col(cols(i))
      val roleMeta = roles(i) match {
        case "class" => "target"
        case "meta"  => "meta"
        case _       => "feature"
      }
      val md = new MetadataBuilder()
        .putString("role", roleMeta)
        .putString("orangeType", types(i))
        .build()
      val typed = types(i) match {
        case "t" =>
          // Orange TimeVariable accepts partial ISO dates ("1949-01"),
          // bare years ("1949" — yeardt.csv), and unix epoch numerics
          // (numericdt.csv); try_to_timestamp because ANSI to_timestamp
          // throws on mismatch, and the 4-digit test keeps bare years ISO
          // (Orange parses 4 digits as %Y, longer digit runs as epoch)
          coalesce(
            try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss")),
            try_to_timestamp(c, lit("yyyy-MM-dd")),
            try_to_timestamp(concat(c, lit("-01")), lit("yyyy-MM-dd")),
            when(c.rlike("^\\d{4}$"),
              try_to_timestamp(concat(c, lit("-01-01")), lit("yyyy-MM-dd"))),
            when(c.rlike("^\\d+(\\.\\d+)?$"), timestamp_seconds(c.cast("double"))),
            try_to_timestamp(c))
        case "c" => c.cast("double")
        case _   => c // discrete and string stay strings
      }
      typed.as(name, md)
    }
    val df = data.select((parsed :+ col("__id")): _*)
    val timeCol = types.indexOf("t") match {
      case -1 => None
      case i  => Some(names(i))
    }
    timeCol match {
      case Some(t) => TimeseriesFrame(df, Some(t), Seq("__id")).dropNullTime
      case None    => TimeseriesFrame(df, None, Seq("__id"))
    }
  }

  /** Column names with a given role, in schema order. */
  def colsWithRole(df: DataFrame, role: String): Seq[String] =
    df.schema.fields.filter(f =>
      f.metadata.contains("role") && f.metadata.getString("role") == role)
      .map(_.name).toSeq

  /** Writer for the same 3-row-header format — the Save-widget
    * counterpart of [[read]] (`Timeseries.save`, Orange `io` path): row 1
    * column names, row 2 type flags (from `orangeType` metadata, else
    * inferred from the Spark type), row 3 role flags. Data rows follow in
    * `(seriesKeys, time, tieBreak)` order, so each series is contiguous.
    *
    * This is an interchange EXPORT (a file the Orange GUI opens), so the
    * output is ONE file, `path/part-00000.csv`. The rows are range-
    * partitioned on the typed order keys and sorted within each range on
    * all cores; values are formatted after the sort. Spark's CSV writer
    * writes the header rows and one part per range into a hidden staging
    * directory beside `path`, and the driver then streams header + parts,
    * in range order, into the single file through a fixed 64 KB buffer.
    * `path` is replaced only after every job has succeeded, so a failed
    * export leaves the previous one in place, and a frame read from
    * `path` can be written back over it.
    *
    * The range partitioning samples the frame in a job of its own, so the
    * export computes `tsf.df` twice: cache an expensive frame first.
    * Round-trips through [[read]]: same values, roles, and time column. */
  def write(tsf: TimeseriesFrame, path: String, sep: String = ","): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.io.IOUtils
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = tsf.df.sparkSession
    val df = tsf.df
    val dataCols = df.columns.filterNot(_.startsWith("__")).toSeq
    def meta(c: String) = df.schema(c).metadata
    val types = dataCols.map { c =>
      if (meta(c).contains("orangeType") && meta(c).getString("orangeType").nonEmpty)
        meta(c).getString("orangeType")
      else df.schema(c).dataType match {
        case TimestampType | DateType => "t"
        case _: NumericType => "c"
        case _ => "s"
      }
    }
    val roles = dataCols.map { c =>
      if (!meta(c).contains("role")) ""
      else meta(c).getString("role") match {
        case "target" => "class"
        case "meta" => "meta"
        case _ => ""
      }
    }
    val keys = (tsf.seriesKeys ++ tsf.timeCol ++ tsf.tieBreak).distinct
    require(keys.nonEmpty,
      s"$path: the export order needs a time column, tie-break or series key")
    val strCols = dataCols.zip(types).map { case (c, t) =>
      val cc = col(c)
      (t match {
        case "t" => date_format(cc, "yyyy-MM-dd HH:mm:ss")
        case "c" => cc.cast("double").cast("string")
        case _ => cc.cast("string")
      }).as(c)
    }
    val body = df
      .repartitionByRange(keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
      .select(strCols: _*)
    val header = spark.createDataFrame(
      java.util.Arrays.asList(Row.fromSeq(dataCols), Row.fromSeq(types), Row.fromSeq(roles)),
      StructType(dataCols.map(StructField(_, StringType))))

    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.makeQualified(new Path(path))
    val staging = new Path(out.getParent, s".${out.getName}-staging-${java.util.UUID.randomUUID}")
    try {
      val parts = Seq("header" -> header, "body" -> body).flatMap { case (name, part) =>
        val dir = new Path(staging, name)
        // one part-NNNNN-<job uuid>-c000.csv per range whatever the
        // session's maxRecordsPerFile, so name order is range order
        part.write.option("sep", sep).option("maxRecordsPerFile", 0L).csv(dir.toString)
        fs.listStatus(dir).map(_.getPath).filter(_.getName.startsWith("part-"))
          .sortBy(_.getName)
      }
      val joined = new Path(staging, "out")
      val os = fs.create(new Path(joined, "part-00000.csv"))
      try parts.foreach { p =>
        val in = fs.open(p)
        try IOUtils.copyBytes(in, os, 1 << 16, false) finally in.close()
      } finally os.close()
      fs.delete(out, true)
      if (!fs.rename(joined, out)) throw new java.io.IOException(s"cannot move $joined to $out")
    } finally fs.delete(staging, true)
  }
}
