package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.{NioRawLocalFileSystem, Writers}

/** Idempotency parity with the reference's windowed-DELETE semantics
  * (SURVEY.md §7.4 risk 5): dynamic partition overwrite must (a) be
  * re-run-safe, (b) replace only months present in the batch, (c) keep
  * cross-month rows from the batch (the reference inserts rows outside
  * the delete window too). */
class WritersSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def trips(rows: (String, Double)*) = {
    import spark.implicits._
    rows.toSeq.toDF("pickup", "total_amount")
      .select(col("pickup").cast("timestamp").as("pickup_datetime"),
        col("total_amount"))
  }

  test("re-running the same month is idempotent; other months untouched") {
    val dir = Files.createTempDirectory("graft-writer").toString + "/trips"
    // initial load: Oct + Nov rows
    Writers.writeTripsMonthly(
      trips("2025-10-15 10:00:00" -> 10.0, "2025-11-01 09:00:00" -> 20.0), dir)
    assert(spark.read.parquet(dir).count() == 2)

    // re-run November with revised data (one extra row) — Oct must survive,
    // Nov must be replaced not duplicated
    Writers.writeTripsMonthly(
      trips("2025-11-01 09:00:00" -> 20.0, "2025-11-02 11:00:00" -> 30.0), dir)
    val after = spark.read.parquet(dir)
    assert(after.count() == 3)
    assert(after.filter(col("trip_month") === "2025-10").count() == 1)
    assert(after.filter(col("trip_month") === "2025-11").count() == 2)

    // exact re-run = no-op on counts (write∘write ≡ write)
    Writers.writeTripsMonthly(
      trips("2025-11-01 09:00:00" -> 20.0, "2025-11-02 11:00:00" -> 30.0), dir)
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("dimension truncate-and-replace") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dim").toString + "/zones"
    Writers.writeDimension(Seq((1, "a"), (2, "b")).toDF("id", "z"), dir)
    Writers.writeDimension(Seq((3, "c")).toDF("id", "z"), dir)
    val got = spark.read.parquet(dir).collect()
    assert(got.length == 1 && got(0).getInt(0) == 3)
  }

  /** Every file and directory under `root` with its POSIX permissions, the
    * per-write UUID of Spark's part-file names masked. */
  private def tree(root: String): Seq[(String, String)] = {
    val r = Paths.get(root)
    Files.walk(r).iterator.asScala.filter(_ != r).map { p =>
      r.relativize(p).toString.replaceAll("part-(\\d+)-[0-9a-f-]{36}", "part-$1") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toSeq.sorted
  }

  test("the sinks write the stock local filesystem's permissions and checksums, through java.nio") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-sink-perms").toString
    // the same writes by hand, through Hadoop's stock local filesystem
    val stockFs = Map("fs.file.impl" -> classOf[LocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    val (nio, stock) = (FileSystem.getStatistics("file", classOf[NioRawLocalFileSystem]),
      FileSystem.getStatistics("file", classOf[RawLocalFileSystem]))
    val before = (nio.getBytesWritten, stock.getBytesWritten)
    val rows = trips("2025-10-15 10:00:00" -> 10.0, "2025-11-01 09:00:00" -> 20.0)
    Writers.writeTripsMonthly(rows, s"$root/sink/trips")
    rows.withColumn("trip_month", date_format(col("pickup_datetime"), "yyyy-MM"))
      .write.options(stockFs).partitionBy("trip_month").option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$root/stock/trips")
    val dim = Seq((1, "a"), (2, "b")).toDF("id", "z")
    Writers.writeDimension(dim, s"$root/sink/zones")
    dim.write.options(stockFs).mode("overwrite").parquet(s"$root/stock/zones")
    assert(nio.getBytesWritten > before._1, "the sinks did not write through NioRawLocalFileSystem")
    assert(stock.getBytesWritten > before._2, "the by-hand writes did not use the stock filesystem")
    val sink = tree(s"$root/sink")
    assert(sink == tree(s"$root/stock"))
    val parquet = sink.map(_._1).filter(_.endsWith(".parquet"))
    assert(parquet.size >= 3)
    parquet.foreach { f =>
      val crc = Paths.get(f).resolveSibling(s".${Paths.get(f).getFileName}.crc").toString
      assert(sink.exists(_._1 == crc), s"no checksum for $f")
    }
  }

  test("setPermission sets rwx bits like the stock chmod and hands a sticky bit to it") {
    val conf = spark.sessionState.newHadoopConf()
    val (nio, stock) = (new NioRawLocalFileSystem, new RawLocalFileSystem)
    Seq(nio, stock).foreach(_.initialize(new URI("file:///"), conf))
    def mode(p: java.nio.file.Path) = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    for (m <- Seq("640", "751", "777", "421", "0", "1755", "1700")) {
      val bits = Integer.parseInt(m, 8)
      val got = Seq(nio, stock).map { fs =>
        val d = Files.createTempDirectory("graft-perm")
        fs.setPermission(new Path(d.toUri), new FsPermission(bits.toShort))
        val r = mode(d)
        Files.setPosixFilePermissions(d, PosixFilePermissions.fromString("rwx------"))
        Files.delete(d)
        r
      }
      assert(got == Seq(bits, bits), s"mode $m: nio, stock = ${got.map(_.toOctalString)}")
    }
  }

  test("mergeUpsert: updates win, inserts append, untouched rows survive; idempotent") {
    import spark.implicits._
    val existing = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "s", "v")
    val updates = Seq((2L, "B", 20.0), (4L, "D", 40.0)).toDF("k", "s", "v")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    val once = Writers.mergeUpsert(existing, updates, Seq("k"))
    assert(toMap(once) == Map(
      1L -> ("a", 1.0), 2L -> ("B", 20.0), 3L -> ("c", 3.0), 4L -> ("D", 40.0)))
    // merge∘merge with the same updates ≡ merge (re-run-safe, like the
    // monthly overwrite above)
    val twice = Writers.mergeUpsert(once, updates, Seq("k"))
    assert(toMap(twice) == toMap(once))
  }

  test("scd2History: half-open versions chain, single current per key") {
    import spark.implicits._
    val changes = Seq(
      (1L, 10L, "2025-01-01 00:00:00"), (1L, 11L, "2025-02-01 00:00:00"),
      (1L, 12L, "2025-03-01 00:00:00"), (2L, 20L, "2025-06-01 00:00:00"))
      .toDF("key", "ver", "ts_s")
      .select(col("key"), col("ver"), col("ts_s").cast("timestamp").as("ts"))
    val hist = Writers.scd2History(changes, "key", "ts", "ver")
      .select(col("key"), col("ver"), col("effective_from"),
        col("effective_to"), col("is_current"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getTimestamp(3)), r.getBoolean(4)))
    // each version closes at the next one's start; tails stay open
    val k1 = hist.filter(_._1 == 1L).sortBy(_._2)
    assert(k1.map(_._4).toSeq == Seq(false, false, true))
    assert(k1(0)._3.contains(java.sql.Timestamp.valueOf("2025-02-01 00:00:00")))
    assert(k1(1)._3.contains(java.sql.Timestamp.valueOf("2025-03-01 00:00:00")))
    assert(k1(2)._3.isEmpty)
    assert(hist.count(h => h._1 == 2L && h._4) == 1)
  }
}
