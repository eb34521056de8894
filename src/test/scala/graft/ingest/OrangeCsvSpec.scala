package graft.ingest

import graft.SparkSpec
import graft.core.TimeseriesFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** OrangeCsv export: one file, a deterministic row order that does not
  * depend on the session's shuffle or AQE settings, and the reader's
  * one-file guard. */
class OrangeCsvSpec extends SparkSpec {

  private def outDir(name: String): String =
    Files.createTempDirectory(name).resolve("out").toString

  /** The export directory's visible entries must be the one part file,
    * and its parent must hold nothing else (no staging left behind). */
  private def exported(path: String): Seq[String] = {
    val siblings = Files.list(Paths.get(path).getParent).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(siblings == Seq("out"), s"${Paths.get(path).getParent} holds $siblings")
    val visible = Files.list(Paths.get(path)).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSeq
    assert(visible == Seq("part-00000.csv"), s"$path holds $visible")
    Files.readAllLines(Paths.get(path, "part-00000.csv")).asScala.toSeq
  }

  /** 2,000 rows in 3 partitions; timestamps repeat (97 distinct hours),
    * the double `eid` breaks the ties, and every 11th value is null. */
  private def frame: TimeseriesFrame = {
    val df = spark.range(0, 2000, 1, 3).select(
      timestamp_seconds(lit(1600000000L) + col("id") * 37 % 97 * 3600).as("when"),
      (lit(5000) - col("id")).cast("double").as("eid"),
      when(col("id") % 11 =!= 0, col("id") % 13 / 4.0).as("val"),
      concat(lit("u"), (col("id") % 5).cast("string")).as("who"))
    TimeseriesFrame(df, Some("when"), Seq("eid"))
  }

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("export is byte-identical across shuffle partitions {1, 7}, AQE on/off and maxRecordsPerFile {0, 150}") {
    val files = for (parts <- Seq("1", "7"); aqe <- Seq("true", "false");
        maxRecs <- Seq("0", "150")) yield
      withConf("spark.sql.shuffle.partitions" -> parts,
          "spark.sql.adaptive.enabled" -> aqe,
          "spark.sql.files.maxRecordsPerFile" -> maxRecs) {
        val dir = outDir(s"orange_conf_${parts}_${aqe}_$maxRecs")
        OrangeCsv.write(frame, dir)
        Files.readAllBytes(Paths.get(dir, "part-00000.csv")).toSeq
      }
    assert(files.distinct.size == 1)
  }

  test("export: 3 header rows, then data lines in non-decreasing (time, tieBreak) order; no staging left") {
    val dir = outDir("orange_order")
    OrangeCsv.write(frame, dir)
    val lines = exported(dir)
    assert(lines.take(3) == Seq("when,eid,val,who", "t,c,c,s", "\"\",\"\",\"\",\"\""))
    val keys = lines.drop(3).map { l =>
      val f = l.split(",", -1)
      (f(0), f(1).toDouble)
    }
    assert(keys.size == 2000)
    // "yyyy-MM-dd HH:mm:ss" sorts lexicographically in time order
    assert(keys.zip(keys.tail).forall { case ((t0, e0), (t1, e1)) =>
      t0 < t1 || (t0 == t1 && e0 <= e1) })
    assert(lines.count(_.split(",", -1)(2).isEmpty) == 182) // nulls stay empty
  }

  test("keyed export: each series contiguous, (seriesKeys, time, tieBreak) order") {
    import spark.implicits._
    val df = Seq(("b", 1L, 10.0), ("a", 2L, 11.0), ("a", 1L, 12.0), ("b", 2L, 13.0),
        ("a", 3L, 14.0), ("b", 1L, 9.0), ("a", 2L, 8.0))
      .toDF("sid", "t", "x")
      .select(col("sid"), timestamp_seconds(col("t")).as("t"), col("x"))
    val dir = outDir("orange_keyed")
    OrangeCsv.write(TimeseriesFrame(df, Some("t"), Seq("x"), Seq("sid")), dir)
    assert(exported(dir).drop(3) == Seq(
      "a,1970-01-01 00:00:01,12.0",
      "a,1970-01-01 00:00:02,8.0",
      "a,1970-01-01 00:00:02,11.0",
      "a,1970-01-01 00:00:03,14.0",
      "b,1970-01-01 00:00:01,9.0",
      "b,1970-01-01 00:00:01,10.0",
      "b,1970-01-01 00:00:02,13.0"))
  }

  test("empty frame exports the 3 header lines and reads back as 0 rows") {
    val dir = outDir("orange_empty")
    val src = frame
    OrangeCsv.write(src.copy(df = src.df.filter(lit(false))), dir)
    assert(exported(dir).size == 3)
    val back = OrangeCsv.read(spark, dir)
    assert(back.timeCol.contains("when"))
    assert(back.df.count() == 0)
  }

  test("export written back over the path it was read from keeps the data") {
    val dir = outDir("orange_self")
    OrangeCsv.write(frame, dir)
    val before = exported(dir)
    OrangeCsv.write(OrangeCsv.read(spark, dir), dir)
    assert(exported(dir) == before)
  }

  test("a failed export leaves the previous one in place") {
    val dir = outDir("orange_failed")
    OrangeCsv.write(frame, dir)
    val before = exported(dir)
    val src = frame
    val bad = src.copy(df = src.df.withColumn("who",
      when(col("eid") === 4000.0, raise_error(lit("planted"))).otherwise(col("who"))))
    intercept[Exception](OrangeCsv.write(bad, dir))
    assert(exported(dir) == before)
  }

  test("read rejects a directory of several files instead of misreading the header") {
    val dir = Files.createTempDirectory("orange_multi")
    for (i <- 0 until 2)
      Files.write(dir.resolve(s"part-$i.csv"),
        "Month,Value\nt,c\n,class\n1949-01,112\n1949-02,118".getBytes)
    val e = intercept[IllegalArgumentException](OrangeCsv.read(spark, dir.toString))
    assert(e.getMessage.contains("expected exactly one file"), e.getMessage)
  }
}
