package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.{NioLocalFs, NioRawLocalFileSystem, Writers}

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

  test("getFileLinkStatus equals the stock filesystem's for a file, a directory and symlinks") {
    val conf = spark.sessionState.newHadoopConf()
    val (nio, stock) = (new NioRawLocalFileSystem, new RawLocalFileSystem)
    Seq(nio, stock).foreach(_.initialize(new URI("file:///"), conf))
    val d = Files.createTempDirectory("graft-link")
    val file = Files.write(d.resolve("f"), "x".getBytes)
    val dir = Files.createDirectory(d.resolve("d"))
    val link = Files.createSymbolicLink(d.resolve("l"), file)
    val dangling = Files.createSymbolicLink(d.resolve("g"), d.resolve("gone"))
    // the stock path runs `readlink` on the path's string, so it finds a
    // symlink only through a scheme-less path; a qualified one reads as the
    // link's target, and a dangling link as missing
    def outcome(fs: FileSystem, p: Path) =
      scala.util.Try(fs.getFileLinkStatus(p)).map(s =>
        (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) Some(s.getSymlink) else None, s.getLen,
          s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
      ).toEither.left.map(_.getClass)
    for (p <- Seq(file, dir, link, dangling, d.resolve("missing"));
         path <- Seq(new Path(p.toUri), new Path(p.toString))) {
      val Seq(got, want) = Seq(nio, stock).map(outcome(_, path))
      assert(got == want, s"$path: nio $got, stock $want")
    }
    Seq(link, dangling).foreach(p =>
      assert(nio.getFileLinkStatus(new Path(p.toString)).isSymlink, p))
    Seq(nio, stock).foreach { fs =>
      intercept[java.io.FileNotFoundException](
        fs.getFileLinkStatus(new Path(d.resolve("missing").toUri)))
    }
  }

  /** `LocalFsProbe`'s output in a JVM of its own: a session built by hand,
    * as perfbench builds one, needs a SparkContext this JVM has not
    * started yet. */
  private lazy val probed: Seq[String] = {
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq.sliding(2).collect {
        case Seq("--add-opens", v) => Seq("--add-opens", v)
      }.flatten.toSeq
    val cmd = Seq(javaBin, "-Xmx1g") ++ opens ++
      Seq("-cp", sys.props("java.class.path"), "graft.LocalFsProbe")
    val out = scala.sys.process.Process(cmd).!!(scala.sys.process.ProcessLogger(_ => ()))
    out.linesIterator.filter(_.startsWith("[probe]")).toSeq
  }

  test("GraftExtensions installs NioLocalFs on a session built by hand with only the extension") {
    assert(probed.contains(s"[probe] default ${classOf[NioLocalFs].getName}"), probed)
  }

  test("GraftExtensions does nothing to filesystems when no SparkContext runs") {
    assert(probed.contains("[probe] no context: none started"), probed)
  }

  test("NioLocalFs.install replaces only Hadoop's shipped defaults, and only once") {
    import org.apache.hadoop.conf.Configuration
    val keys = Seq("fs.AbstractFileSystem.file.impl", "fs.file.impl")
    def state(c: Configuration) = keys.map(k => (c.get(k), c.getPropertySources(k).toSeq))
    val conf = new Configuration()
    assert(conf.getPropertySources(keys.head).toSeq == Seq("core-default.xml"))
    NioLocalFs.install(conf)
    assert(keys.map(conf.get) ==
      Seq(classOf[NioLocalFs].getName, classOf[graft.etl.NioLocalFileSystem].getName))
    val once = state(conf)
    NioLocalFs.install(conf)
    assert(state(conf) == once)
    val explicit = new Configuration()
    keys.foreach(explicit.set(_, "x.Explicit", "spark.hadoop"))
    NioLocalFs.install(explicit)
    assert(keys.map(explicit.get) == Seq("x.Explicit", "x.Explicit"))
  }

  test("an explicit spark.hadoop.fs.AbstractFileSystem.file.impl wins over GraftExtensions") {
    assert(probed.contains(
      s"[probe] explicit ${classOf[org.apache.hadoop.fs.local.LocalFs].getName}"), probed)
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

/** Applies `GraftExtensions` with no SparkContext running, then builds two
  * sessions by hand, one after the other, each with only the
  * settings perfbench's session shares with the engine's
  * (`spark.sql.extensions=graft.plans.GraftExtensions`), the second also
  * with an explicit `spark.hadoop.fs.AbstractFileSystem.file.impl`, and
  * prints the `file:` FileContext filesystem each session's Hadoop
  * configuration resolves to. */
object LocalFsProbe {
  def main(args: Array[String]): Unit = {
    new graft.plans.GraftExtensions()
      .apply(new org.apache.spark.sql.SparkSessionExtensions)
    println("[probe] no context: " +
      org.apache.spark.sql.GraftSqlBridge.activeContext.fold("none started")(_ => "started"))
    sessions()
  }

  private def sessions(): Unit = Seq(
    "default" -> None,
    "explicit" -> Some(classOf[org.apache.hadoop.fs.local.LocalFs].getName)
  ).foreach { case (name, impl) =>
    val b = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]").appName("local-fs-probe")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    impl.foreach(b.config("spark.hadoop.fs.AbstractFileSystem.file.impl", _))
    val spark = b.getOrCreate()
    val fs = org.apache.hadoop.fs.AbstractFileSystem.get(new URI("file:///"),
      spark.sessionState.newHadoopConf())
    println(s"[probe] $name ${fs.getClass.getName}")
    spark.stop()
  }
}
