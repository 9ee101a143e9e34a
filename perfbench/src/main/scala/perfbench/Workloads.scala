package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{S3Like, Snapshots, Tables, Warehouse}
import graft.queries.OracleQuery

/** One benchmark operation. `run` performs it and checks its output, and
  * returns whether the output was right. */
final case class Op(name: String, family: String, write: Boolean, run: () => Boolean)

/** What every workload shares: the session, the generated tables, a
  * private work root, the seeded generator and the tracer. */
final class Ctx(
    val spark: SparkSession,
    val data: String,
    val work: Path,
    val rng: scala.util.Random,
    val tracer: Tracer) {
  def span[A](name: String)(body: => A): A = tracer.span(name)(body)
}

trait Workload {
  /** Stage this workload's inputs under `dir`. */
  def stage(dir: Path): Unit
  /** The next operation of the seeded stream. */
  def next(): Op
  /** Ops in one pass. The timed loop only stops at a pass boundary, and one
    * untimed pass before it pays codegen and first-use costs. */
  def passSize: Int = 1
  /** One-time work after staging: models and expected digests. */
  def prepare(): Unit = ()
  /** Workload-level figures gathered once the timed loop has ended. */
  def finish(): Map[String, Double] = Map.empty
  /** Ratio of stored bytes to live rows, for workloads that store data. */
  def storedBytesPerRow(): Double = 0.0
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "relational" => new QueryLoop(ctx, QueryLoop.relational)
    case "lake-churn" => new LakeChurn(ctx)
    case "object-io" => new ObjectIo(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(f => Files.isRegularFile(f) &&
      !f.getFileName.toString.endsWith(".crc")).map(Files.size(_)).sum
}

/** Read-only registry queries, each timed through the digest sink and
  * checked against the recorded digest, in a seed-shuffled order per pass. */
final class QueryLoop(ctx: Ctx, queries: Seq[(String, OracleQuery)]) extends Workload {
  private val expected = Expected.load()
  private var pass: Seq[(String, OracleQuery)] = Nil

  def stage(dir: Path): Unit =
    Tables.all.foreach(t => Tables(ctx.spark, ctx.data, t).schema)

  override def passSize: Int = queries.size

  def next(): Op = {
    if (pass.isEmpty) pass = ctx.rng.shuffle(queries)
    val (family, q) = pass.head
    pass = pass.tail
    Op(q.name, family, write = false, () => {
      val df = ctx.span("queries.build")(q.build(ctx.spark, ctx.data))
      val d = ctx.span("queries.exec")(Digest.of(df))
      expected.matches(q.name, d)
    })
  }
}

object QueryLoop {
  import graft.queries._

  /** The first query, in registry order, of each of the six relational
    * families, and the TextAnalysis fingerprint kernel (q25), whose md5
    * shingle expressions only run when the sink consumes every column. */
  lazy val relational: Seq[(String, OracleQuery)] =
    Seq("Relational" -> Relational.queries, "Relational2" -> Relational2.queries,
      "Relational3" -> Relational3.queries, "Events" -> Events.queries, "Skew" -> Skew.queries,
      "Quality" -> Quality.queries).map { case (f, qs) => f -> qs.head } :+
      ("TextAnalysis" -> TextAnalysis.queries.find(_.name == "q25_fingerprint").get)

  /** The kernel queries whose latency the traced run reports one by one. */
  val kernels: Seq[String] = Seq("q25_fingerprint")

  lazy val families: Seq[String] = relational.map(_._1)
}

/** The recorded digest of every read-only registry query on the generated
  * tables, with the DuckDB oracle's verdict on the run that produced it. */
final class Expected(entries: Map[String, (Digest, String)]) {
  def matches(name: String, d: Digest): Boolean = entries.get(name) match {
    case Some((want, oracle)) => oracle != "mismatch" && want.rows == d.rows &&
      want.hash.compareTo(d.hash) == 0
    case None => false
  }
}

object Expected {
  /** Reads the file named by the `perfbench.expected` system property. */
  def load(): Expected = {
    val file = new java.io.File(sys.props("perfbench.expected"))
    val qs = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file).get("queries")
    new Expected(qs.fieldNames().asScala.map { n =>
      val e = qs.get(n)
      n -> (Digest.parse(e.get("digest").asText()), e.get("oracle").asText())
    }.toMap)
  }
}

/** A fixed multiset of op kinds dealt in a seed-shuffled order, then the
  * `last` kinds in their given order: every pass holds the same mix, so runs
  * with different seeds time the same kinds of work on different keys and
  * frames. */
final class Deck(kinds: Seq[String], rng: scala.util.Random, last: Seq[String] = Nil) {
  private var hand: List[String] = Nil
  def size: Int = kinds.size + last.size
  def draw(): String = {
    if (hand.isEmpty) hand = rng.shuffle(kinds).toList ++ last
    val k = hand.head
    hand = hand.tail
    k
  }
}

/** A long-lived snapshot table under small writes with reads beside them,
  * checked against a model of the live keys and their quantities. */
final class LakeChurn(ctx: Ctx) extends Workload {
  import LakeChurn._
  private val spark = ctx.spark
  private var root = ""
  private val model = new java.util.TreeMap[java.lang.Long, Integer]()
  private var templates: Array[Row] = Array.empty
  private var nextOrder = 0L
  private var scanned = 0L
  private var liveAtRead = 0L
  private var liveCache: (Long, Long) = (-1L, 0L)

  private def base: DataFrame = Tables(spark, ctx.data, "lineitem")
    .withColumn("k", col("l_orderkey") * 8 + col("l_linenumber"))

  def stage(dir: Path): Unit = {
    root = dir.resolve("table").toUri.toString.stripSuffix("/")
    Snapshots.commit(base.repartitionByRange(8, col("k")), root, statsCols = Seq("k"))
  }

  override def prepare(): Unit = {
    base.select("k", "l_quantity").collect().foreach(row =>
      model.put(row.getLong(0), row.getDouble(1).toInt))
    templates = base.limit(512).collect()
    nextOrder = model.lastKey / 8 + 1
  }

  // compaction closes every pass, so each pass starts from the same layout
  private val deck = new Deck(Seq("append", "append", "append", "merge", "merge", "delete",
    "point", "point", "point", "range", "range", "count", "count", "rows", "sql", "sql"),
    ctx.rng, last = Seq("compact"))
  override def passSize: Int = deck.size

  def next(): Op = deck.draw() match {
    case "append" => appendOp()
    case "merge" => mergeOp()
    case "delete" => deleteOp()
    case "compact" => compactOp()
    case "point" => readOp(point = true)
    case "range" => readOp(point = false)
    case "count" => countOp()
    case "rows" => rowCountOp()
    case "sql" => sqlOp()
  }

  private def schema = templates.head.schema

  private def row(k: Long, qty: Int): Row = {
    val t = templates(ctx.rng.nextInt(templates.length)).toSeq.toArray
    t(0) = k / 8; t(3) = (k % 8).toInt; t(4) = qty.toDouble; t(t.length - 1) = k
    Row.fromSeq(t.toSeq)
  }

  private def freshKeys(n: Int): Seq[Long] = {
    val ks = (0 until n).map { i => (nextOrder + i / 7) * 8 + (i % 7) + 1 }
    nextOrder += (n + 6) / 7
    ks
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The first live key at or after fraction `q` of the key range. */
  private def keyAt(q: Double): Long = {
    val lo = model.firstKey.longValue; val hi = model.lastKey.longValue
    val k = model.ceilingKey(lo + (q * (hi - lo)).toLong)
    if (k == null) hi else k.longValue
  }

  private def randomKey(): Long = keyAt(ctx.rng.nextDouble())

  // reads and deletes walk the key range by golden-ratio steps from a seeded
  // start: any seed spreads them evenly over old, compacted and fresh keys
  private var probe = ctx.rng.nextDouble()
  private def spreadKey(): Long = { probe = (probe + 0.6180339887498949) % 1.0; keyAt(probe) }

  private def appendOp() = Op("lake.append", "lake", write = true, () => {
    val rows = freshKeys(AppendRows).map(k => (k, 1 + ctx.rng.nextInt(50)))
    val df = frame(rows.map { case (k, q) => row(k, q) })
    val v = ctx.span("snapshots.commit")(Snapshots.commit(df, root, append = true, statsCols = Seq("k")))
    rows.foreach { case (k, q) => model.put(k, q) }
    v > 0
  })

  private def mergeOp() = Op("lake.merge", "lake", write = true, () => {
    val old = Seq.fill(MergeRows)(randomKey()).distinct
    val rows = (old ++ freshKeys(MergeRows / 4)).map(k => (k, 1 + ctx.rng.nextInt(50)))
    val df = frame(rows.map { case (k, q) => row(k, q) })
    val v = ctx.span("snapshots.merge")(Snapshots.merge(df, root, "k", statsCols = Seq("k")))
    rows.foreach { case (k, q) => model.put(k, q) }
    v > 0
  })

  private def deleteOp() = Op("lake.delete_where", "lake", write = true, () => {
    val a = spreadKey(); val b = a + DeleteWidth
    val v = ctx.span("snapshots.delete_where")(
      Snapshots.deleteWhere(spark, root, col("k").between(a, b), statsCols = Seq("k")))
    model.subMap(a, true, b, true).clear()
    v > 0
  })

  private def compactOp() = Op("lake.compact", "lake", write = true, () => {
    val v = ctx.span("snapshots.compact")(
      Snapshots.compact(spark, root, targetFiles = 4, statsCols = Seq("k")))
    v > 0
  })

  private def expect(a: Long, b: Long): (Long, Long) = {
    val sub = model.subMap(a, true, b, true).values().asScala
    (sub.size.toLong, sub.map(_.longValue).sum)
  }

  private def readOp(point: Boolean) = {
    val name = if (point) "lake.read_point" else "lake.read_range"
    Op(name, "lake", write = false, () => {
      val a = spreadKey(); val b = if (point) a else a + RangeWidth
      val df = ctx.span("snapshots.read_where_call")(
        Snapshots.readWhere(spark, root, col("k").between(a, b)))
      val (d, r) = ctx.span("snapshots.read_exec")(Digest.withAggs(df, Seq(sum(col("l_quantity")))))
      val qty = if (r.isNullAt(2)) 0L else r.getDouble(2).toLong
      (d.rows, qty) == expect(a, b)
    })
  }

  private def countOp() = Op("lake.count_where", "lake", write = false, () => {
    val a = spreadKey(); val b = a + RangeWidth
    ctx.span("snapshots.count_where")(Snapshots.countWhere(spark, root, col("k").between(a, b))) ==
      expect(a, b)._1
  })

  private def rowCountOp() = Op("lake.row_count", "lake", write = false, () =>
    ctx.span("snapshots.row_count")(Snapshots.rowCount(spark, root)).contains(model.size.toLong))

  private def sqlOp() = Op("lake.sql_select", "lake", write = false, () => {
    val a = spreadKey(); val b = a + RangeWidth
    val r = ctx.span("catalog.sql_read")(spark.sql(
      s"SELECT count(*), sum(l_quantity) FROM graft.`$root` WHERE k BETWEEN $a AND $b").head())
    val qty = if (r.isNullAt(1)) 0L else r.getDouble(1).toLong
    (r.getLong(0), qty) == expect(a, b)
  })

  /** Traced runs: files the read op scanned against the live files. */
  def noteRead(scanFiles: Long): Unit = {
    val head = Snapshots.headVersion(spark, root)
    if (liveCache._1 != head)
      liveCache = (head, Snapshots.manifest(spark, root, head).files.size.toLong)
    scanned += scanFiles
    liveAtRead += liveCache._2
  }

  override def finish(): Map[String, Double] = {
    val head = Snapshots.headVersion(spark, root)
    Map(
      "snapshots.files_read_ratio" -> (if (liveAtRead == 0) 0.0 else scanned.toDouble / liveAtRead),
      "snapshots.versions" -> head.toDouble,
      "snapshots.live_files" -> Snapshots.manifest(spark, root, head).files.size.toDouble)
  }

  override def storedBytesPerRow(): Double =
    Workload.bytesUnder(java.nio.file.Paths.get(new java.net.URI(root))).toDouble / model.size
}

object LakeChurn {
  val AppendRows = 48
  val MergeRows = 32
  val DeleteWidth = 48L
  val RangeWidth = 400L
}

/** The pandas-aws surface: frames put in every format and read back, multi
  * key reads, and warehouse upload, upsert and query, each checked against
  * the digest or the model of what was put. */
final class ObjectIo(ctx: Ctx) extends Workload {
  import ObjectIo._
  private val spark = ctx.spark
  private var dir: Path = _
  private var frames: IndexedSeq[Frame] = IndexedSeq.empty
  private var mix: (String, Digest, Int) = ("", Digest(0, java.math.BigDecimal.ZERO), 0)
  private val puts = mutable.ArrayBuffer.empty[Put]
  private val tables = mutable.ArrayBuffer.empty[mutable.Map[Long, java.math.BigDecimal]]
  private var orderRows: Array[Row] = Array.empty
  private var extraRows: Array[Row] = Array.empty
  private var seq = 0

  private lazy val orders = Tables(spark, ctx.data, "orders")
  private lazy val lineitem = Tables(spark, ctx.data, "lineitem")
  private lazy val at = ctx.rng.nextInt((orders.count() - 4000).toInt).toLong
  private def o(lo: Long, len: Long) = orders.filter(col("o_orderkey").between(at + lo, at + lo + len - 1))
  private def l(lo: Long, len: Long) = lineitem.filter(col("l_orderkey").between(at + lo, at + lo + len - 1))
  private def mixParts = Seq(("csv", o(3000, 100)), ("parquet", o(3100, 100)), ("xlsx", o(3200, 60)))

  /** Caches the frames that the puts write. */
  def stage(d: Path): Unit = {
    dir = d
    frames = IndexedSeq(
      Frame(o(0, 2000), "o_orderkey"),
      Frame(l(0, 600), "l_orderkey"),
      Frame(o(2500, 150), "o_orderkey"))
    frames.foreach(_.df.persist().count())
  }

  override def prepare(): Unit = {
    mixParts.foreach { case (fmt, df) =>
      S3Like.putDf(df, dir.resolve("mix").resolve(s"part.$fmt").toUri.toString, fmt, exactNaming = true)
    }
    frames = frames.map(f => f.copy(digest = Digest.canonical(f.df), rows = f.df.count()))
    val sum = mixParts.map(p => Digest.canonical(p._2))
    mix = (dir.resolve("mix").toUri.toString, Digest(sum.map(_.rows).sum,
      sum.map(_.hash).reduce(_ add _)), sum.size)
    orderRows = o(0, 2000).collect()
    extraRows = o(2000, 400).collect()
  }

  private val deck = new Deck(Formats.map("put." + _) ++ Formats.map("get." + _) ++
    Seq("keys.suffix", "keys.mixed", "list", "upload", "upsert", "query"), ctx.rng)
  override def passSize: Int = deck.size

  def next(): Op = deck.draw().split('.') match {
    case Array("put", f @ _*) => putOp(f.mkString("."))
    case Array("get", f @ _*) =>
      puts.findLast(_.fmt == f.mkString(".")).fold(putOp(f.mkString(".")))(getOp)
    case Array("keys", mode) => getFromKeysOp(mode)
    case Array("list") => listOp()
    case Array("upload") => uploadOp()
    case Array("upsert") => if (tables.isEmpty) uploadOp() else upsertOp()
    case Array("query") => if (tables.isEmpty) uploadOp() else queryOp()
  }

  private def fresh(): Int = { seq += 1; seq }

  private def putOp(fmt: String) = {
    val PutPlan(frame, multi, exact) = PutPlans(fmt)
    val f = frames(frame)
    val (format, gzip) = if (fmt == "csv.gz") ("csv", true) else (fmt, false)
    val uri = dir.resolve("puts").resolve(fmt).resolve(s"obj${fresh()}.$fmt").toUri.toString
    Op(s"s3like.put.$fmt", "s3like", write = true, () => {
      ctx.span(s"s3like.put.$fmt")(S3Like.putDf(f.df, uri, format,
        compression = if (gzip) Some("gzip") else None,
        parts = if (multi) 3 else 1, sortKeys = if (multi) Seq(f.key) else Nil,
        exactNaming = exact))
      puts += Put(uri, fmt, format, f)
      true
    })
  }

  private def getOp(p: Put) = {
    Op(s"s3like.get.${p.fmt}", "s3like", write = false, () =>
      ctx.span(s"s3like.get.${p.fmt}")(
        Digest.canonical(S3Like.getDf(spark, p.uri, p.format), p.frame.df.schema)) == p.frame.digest)
  }

  private def getFromKeysOp(mode: String) = Op(s"s3like.get_from_keys.$mode", "s3like",
    write = false, () => ctx.span("s3like.get_from_keys")(
      S3Like.getDfFromKeys(spark, mix._1, format = mode)
        .map(Digest.canonical(_, frames(0).df.schema))).contains(mix._2))

  private def listOp() = Op("s3like.list_keys", "s3like", write = false, () =>
    ctx.span("s3like.list_keys")(S3Like.listKeys(spark, mix._1).size) == mix._3)

  private def tableName(i: Int) = s"wh_t$i"

  private def uploadOp() = {
    val i = tables.size
    Op("warehouse.upload", "warehouse", write = true, () => {
      ctx.span("warehouse.upload")(Warehouse.upload(spark, frames(0).df, tableName(i),
        Warehouse.Layout(Warehouse.DistStyle.Key("o_orderkey"), Seq("o_orderdate"), buckets = 4)))
      tables += mutable.Map(orderRows.map(r => r.getLong(0) -> price(r.getDouble(3))).toSeq: _*)
      true
    })
  }

  private def upsertOp() = {
    val i = ctx.rng.nextInt(tables.size)
    val old = Seq.fill(UpsertRows)(orderRows(ctx.rng.nextInt(orderRows.length)))
    val add = Seq.fill(UpsertRows / 3)(extraRows(ctx.rng.nextInt(extraRows.length)))
    val rows = (old ++ add).groupBy(_.getLong(0)).values.map(_.head).toSeq.map { r =>
      val v = r.toSeq.toArray
      v(3) = (math.round(r.getDouble(3) * 100) + 125 + ctx.rng.nextInt(1000)) / 100.0
      Row.fromSeq(v.toSeq)
    }
    Op("warehouse.upsert", "warehouse", write = true, () => {
      val df = spark.createDataFrame(rows.asJava, orderRows.head.schema)
      ctx.span("warehouse.upsert")(Warehouse.upsert(spark, df, tableName(i), Seq("o_orderkey")))
      rows.foreach(r => tables(i)(r.getLong(0)) = price(r.getDouble(3)))
      true
    })
  }

  private def queryOp() = {
    val i = ctx.rng.nextInt(tables.size)
    Op("warehouse.query", "warehouse", write = false, () => {
      val r = ctx.span("warehouse.query")(Warehouse.query(spark,
        s"SELECT count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total FROM ${tableName(i)}")
        .head())
      val m = tables(i)
      r.getLong(0) == m.size && r.getDecimal(1).compareTo(m.values.reduce(_ add _)) == 0
    })
  }

  private def price(d: Double) =
    new java.math.BigDecimal(java.lang.Double.toString(d)).setScale(2, java.math.RoundingMode.HALF_UP)

  /** Stored bytes per row put, for each format. */
  override def finish(): Map[String, Double] = Formats.map { fmt =>
    val rows = puts.filter(_.fmt == fmt).map(_.frame.rows).sum
    val bytes = Workload.bytesUnder(dir.resolve("puts").resolve(fmt))
    s"s3like.bytes_per_row.$fmt" -> (if (rows == 0) 0.0 else bytes.toDouble / rows)
  }.toMap

  override def storedBytesPerRow(): Double = {
    val rows = puts.map(_.frame.rows).sum + tables.map(_.size.toLong).sum
    val bytes = Workload.bytesUnder(dir.resolve("puts")) + Workload.bytesUnder(ctx.work.resolve("warehouse"))
    if (rows == 0) 0.0 else bytes.toDouble / rows
  }
}

object ObjectIo {
  val Formats: IndexedSeq[String] = IndexedSeq("csv", "csv.gz", "parquet", "xlsx", "object")
  val UpsertRows = 60

  /** How each format is put: which frame (an index into the staged frames:
    * large orders, large lineitem, small orders for the driver-side xlsx
    * codec), and whether it splits into three sorted parts or renames its
    * single part to the exact key. */
  final case class PutPlan(frame: Int, multi: Boolean, exact: Boolean)
  val PutPlans: Map[String, PutPlan] = Map(
    "csv" -> PutPlan(0, multi = false, exact = true),
    "csv.gz" -> PutPlan(1, multi = false, exact = false),
    "parquet" -> PutPlan(0, multi = true, exact = false),
    "xlsx" -> PutPlan(2, multi = false, exact = true),
    "object" -> PutPlan(1, multi = false, exact = false))

  final case class Frame(df: DataFrame, key: String,
      digest: Digest = Digest(0, java.math.BigDecimal.ZERO), rows: Long = 0)
  final case class Put(uri: String, fmt: String, format: String, frame: Frame)
}
