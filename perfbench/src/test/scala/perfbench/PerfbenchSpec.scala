package perfbench

import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val tmp: Path = Files.createTempDirectory("perfbench-spec")
  private lazy val data: String = {
    val out = tmp.resolve("sf0.001")
    val rc = new ProcessBuilder("python3", "gen_data.py", out.toString, "--sf", "0.001")
      .inheritIO().start().waitFor()
    assert(rc == 0, "gen_data.py failed")
    out.toString
  }
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Files.walk(tmp).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  test("the digest sink evaluates the fingerprint column that a count sink prunes") {
    val q25 = graft.queries.TextAnalysis.queries.find(_.name == "q25_fingerprint").get
    val df = q25.build(spark, data)
    val counted = df.groupBy().count().queryExecution.executedPlan.toString.toLowerCase
    val digested = Digest.sink(df).queryExecution.executedPlan.toString.toLowerCase
    assert(!counted.contains("md5("), "the count sink was expected to prune the fingerprint")
    assert(digested.contains("md5("), s"fingerprint missing from the digest plan:\n$digested")
  }

  test("changing one value of any column changes the digest") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)).toDF("k", "s", "x")
      .withColumn("computed", col("k") * 7 + 1)
    val d0 = Digest.of(base)
    assert(d0 == Digest.of(base.orderBy(col("k").desc)), "digest must not depend on row order")
    val changed = Seq(
      base.withColumn("k", when(col("k") === 2, 20L).otherwise(col("k"))),
      base.withColumn("s", when(col("k") === 2, "z").otherwise(col("s"))),
      base.withColumn("x", when(col("k") === 2, 9.5).otherwise(col("x"))),
      base.withColumn("computed", col("k") * 7 + 2))
    changed.foreach(df => assert(Digest.of(df) != d0, df.columns.mkString(",")))
    assert(Digest.of(base.filter(col("k") < 3)).rows == 2)
  }

  test("the canonical digest sees through codec re-typing") {
    val s = spark
    import s.implicits._
    val put = Seq((1L, "2024-01-01 00:00:00", 2.0)).toDF("k", "ts", "v")
      .withColumn("ts", col("ts").cast("timestamp"))
    val readBack = Seq((1, "2024-01-01T00:00", 2.0)).toDF("k", "ts", "v")
    assert(Digest.canonical(readBack, put.schema) == Digest.canonical(put))
  }

  test("the counting filesystem tallies each call once, exactly and repeatably") {
    val dir = tmp.resolve("fs")
    Files.createDirectories(dir)
    (1 to 3).foreach(i => Files.writeString(dir.resolve(s"f$i"), "x" * i))
    val fs = new CountingFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    def once(): Seq[Long] = {
      val before = CountingFileSystem.snapshot()
      val root = new HPath(dir.toUri)
      fs.listStatus(root)
      fs.exists(new HPath(root, "f1"))
      fs.getFileStatus(new HPath(root, "f2"))
      fs.open(new HPath(root, "f3")).close()
      fs.create(new HPath(root, "g"), true).close()
      fs.rename(new HPath(root, "g"), new HPath(root, "h"))
      fs.delete(new HPath(root, "h"), false)
      val it = fs.listFiles(root, true)
      while (it.hasNext) it.next()
      CountingFileSystem.snapshot().zip(before).map { case (a, b) => a - b }.toSeq
    }
    val expected = Seq(2L, 1L, 1L, 1L, 1L, 1L, 1L) // list, status, exists, open, create, rename, delete
    assert(once() == expected)
    assert(once() == expected)
  }

  test("a session configured for tracing routes scheme file through the counting filesystem") {
    val conf = new Configuration()
    CountingFileSystem.sessionConf.foreach { case (k, v) => conf.set(k.stripPrefix("spark.hadoop."), v) }
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val fs = FileSystem.get(java.net.URI.create("file:///"), conf)
    assert(fs.isInstanceOf[CountingFileSystem])
    assert(fs.getScheme == "file")
  }

  test("the percentile estimate weighs every order statistic") {
    val m = new Metrics(Nil, 1.0)
    assert(math.abs(m.pct((0 to 100).map(_.toDouble), 50) - 50) < 1e-9)
    assert(m.pct(Seq(7.0), 90) == 7.0)
    // two clusters: p50 moves smoothly with the slow cluster's values
    val fast = Seq.fill(10)(100.0)
    val a = m.pct(fast ++ Seq.fill(10)(300.0), 50)
    val b = m.pct(fast ++ Seq.fill(10)(330.0), 50)
    assert(a > 100 && a < 300 && b > a && b - a < 30)
  }
}
