package graft.engine

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.SparkSpec
import graft.engine.Checks.Rule
import graft.engine.Snapshots._

/** The lake's metadata format, pinned byte for byte: one manifest and one
  * shard body carrying every optional field (with both clustering forms
  * across the two manifests), rendered exactly as the format has always
  * been written — key order, omit-when-absent, escaping of quotes,
  * backslashes, brackets and non-ASCII text. Also: every malformed file
  * fails loudly and names its path, and a catalog entry with a
  * kilobytes-long root round-trips. */
class ManifestCodecSpec extends SparkSpec {
  import spark.implicits._

  private val f1 = "part-00000-a\"b\\c].parquet"
  private val f2 = "part-00001-é中𝄞 x.parquet"
  private val hc = "c\"o]l\\1"

  private val full = ManifestMeta(3L, 2L,
    Seq(ShardRef("shard-0123456789abcdef.json", 2L), ShardRef("shard-fedcba9876543210.json", 1L)),
    tag = "tag \"x\" \\ ] é𝄞\t", ts = 1700000000123L,
    schema = """{"type":"struct","fields":[{"name":"id","type":"long","nullable":true,"metadata":{}}]}""",
    retired = Seq("old]\"col", "r\\2"),
    clustering = Some(Clustering(Seq("k]1", "k\"2"), 8, sorted = true)),
    indexed = Some((Seq("id", hc), Seq("key]"))))

  private val minimal = ManifestMeta(1L, 0L, Seq(ShardRef("shard-a.json", 0L)),
    clustering = Some(Clustering(Seq("b\"k"), 4)))

  private val shardFull = Shard(ShardRef("shard-0123456789abcdef.json", 2L),
    Seq(s"file:/tmp/t/data/c1/$f1", s"file:/tmp/t/data/c1/$f2"),
    Seq(ColStats(f1, "id", 0.0, 41.0, nulls = 0L, sumS = "861"),
      ColStats(f1, hc, -1.5e-7, 1.0e21),
      ColStats(f2, "id", 42.0, 99.0, nulls = 3L, sumS = "!"),
      ColStats(f2, "fv", 0, 0, nulls = 7L, nr = true),
      ColStats(f1, "s", 0, 0, nulls = 2L, slo = "a\"]\\", shi = "zé𝄞\n"),
      ColStats(f2, "d", 1.0, 2.0, nulls = 0L, slo = "", shi = "}", sumS = "-3.50", nr = true)),
    Seq(FileRows(f1, 42L, 1234L), FileRows(f2, 58L)),
    Seq(FileBloom(f1, "key]", "AAAAAQAAAAYAAAAB/+8=")),
    Seq(FileDv(f2, "AQAAAAAAAAA6MAAAAQAAAAAAAgAQAAAAAAABAAIA", 3L)))

  private val shardMin = Shard(ShardRef("shard-a.json", 1L), Seq("file:/t/p.parquet"),
    Seq.empty, tsExact = false)

  private val ManifestFull =
    """{"version":3,"parent":2,"ts":1700000000123,"tag":"tag \"x\" \\ ] é𝄞\t","schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}","shards":[{"name":"shard-0123456789abcdef.json","n":2},""" +
    """{"name":"shard-fedcba9876543210.json","n":1}],""" +
    """"retired":["old]\"col","r\\2"],""" +
    """"clustering":{"cols":["k]1","k\"2"],""" +
    """"buckets":8,"sorted":true},""" +
    """"indexed":{"s":["id","c\"o]l\\1"],""" +
    """"b":["key]"]}}"""
  private val ManifestMin =
    """{"version":1,"parent":0,"ts":0,"tag":"","schema":"","shards":[{"name":"shard-a.json","n":0}],""" +
    """"clustering":{"col":"b\"k","buckets":4}}"""
  private val ShardFull =
    """{"stats":[{"file":"part-00000-a\"b\\c].parquet","col":"id","min":0.0,"max":41.0,"nulls":0,"sum":"861"},""" +
    """{"file":"part-00000-a\"b\\c].parquet","col":"c\"o]l\\1","min":-1.5E-7,"max":1.0E21,"nulls":-1},""" +
    """{"file":"part-00001-é中𝄞 x.parquet","col":"id","min":42.0,"max":99.0,"nulls":3,"sum":"!"},""" +
    """{"file":"part-00001-é中𝄞 x.parquet","col":"fv","min":0.0,"max":0.0,"nulls":7,"nr":1},""" +
    """{"file":"part-00000-a\"b\\c].parquet","col":"s","min":0.0,"max":0.0,"nulls":2,"slo":"a\"]\\","shi":"zé𝄞\n"},""" +
    """{"file":"part-00001-é中𝄞 x.parquet","col":"d","min":1.0,"max":2.0,"nulls":0,"nr":1,"sum":"-3.50","slo":"","shi":"}"}],""" +
    """"rows":[{"file":"part-00000-a\"b\\c].parquet","n":42,"b":1234},""" +
    """{"file":"part-00001-é中𝄞 x.parquet","n":58}],""" +
    """"blooms":[{"file":"part-00000-a\"b\\c].parquet","col":"key]","b64":"AAAAAQAAAAYAAAAB/+8="}],""" +
    """"dvs":[{"file":"part-00001-é中𝄞 x.parquet","dv64":"AQAAAAAAAAA6MAAAAQAAAAAAAgAQAAAAAAABAAIA","del":3}],""" +
    """"tsus":true,"files":["file:/tmp/t/data/c1/part-00000-a\"b\\c].parquet","file:/tmp/t/data/c1/part-00001-é中𝄞 x.parquet"]}"""
  private val ShardMin =
    """{"stats":[],""" +
    """"rows":[],""" +
    """"files":["file:/t/p.parquet"]}"""

  test("manifests render the pinned bytes and parse back, both clustering forms") {
    assert(ManifestCodec.renderManifest(full) === ManifestFull)
    assert(ManifestCodec.renderManifest(minimal) === ManifestMin)
    assert(ManifestCodec.parseManifest(ManifestFull, "m") === full)
    assert(ManifestCodec.parseManifest(ManifestMin, "m") === minimal)
  }

  test("shard bodies render the pinned bytes and parse back") {
    assert(ManifestCodec.renderShard(shardFull) === ShardFull)
    assert(ManifestCodec.renderShard(shardMin) === ShardMin)
    assert(ManifestCodec.parseShard(shardFull.ref, ShardFull, "s") === shardFull)
    assert(ManifestCodec.parseShard(shardMin.ref, ShardMin, "s") === shardMin)
  }

  test("absent optional fields read as their defaults") {
    val m = ManifestCodec.parseManifest("""{"version":1,"parent":0,"shards":[]}""", "m")
    assert(m === ManifestMeta(1L, 0L, Seq.empty))
    val sh = ManifestCodec.parseShard(shardMin.ref,
      """{"stats":[{"file":"a","col":"c","min":1,"max":2}],"files":["a"]}""", "s")
    assert(sh === Shard(shardMin.ref, Seq("a"), Seq(ColStats("a", "c", 1.0, 2.0)), tsExact = false))
    assert(sh.stats.head.nulls === -1L && sh.rows.isEmpty)
    val rows = ManifestCodec.parseShard(shardMin.ref,
      """{"rows":[{"file":"a","n":5}],"files":["a"]}""", "s").rows
    assert(rows === Seq(FileRows("a", 5L, -1L)))
  }

  test("a catalog entry whose root is 4,000 characters long round-trips through pin") {
    val cat = "file:" + Files.createTempDirectory("cat").toString
    val root = "file:/tmp/" + ("r" * 4000)
    Catalog.publish(spark, cat, Map("t" -> (root, 1L)))
    assert(Catalog.pin(spark, cat).tables("t") === ((root, 1L)))
  }

  // ---- malformed metadata: an error naming the file, never an NPE or a
  // silently dropped entry ----

  private val P = "file:/lake/t/_snapshots/manifest-7.json"

  private def rejects(parse: String => Any): Unit = {
    val e = intercept[IllegalStateException](parse(P))
    assert(e.getMessage.contains(P), e.getMessage)
  }

  /** `text` with the first occurrence of `field` replaced by `put`. */
  private def without(text: String, field: String, put: String = ""): String = {
    require(text.contains(field), s"$field not in $text")
    text.replaceFirst(java.util.regex.Pattern.quote(field),
      java.util.regex.Matcher.quoteReplacement(put))
  }

  private val catalogText = ManifestCodec.renderCatalog(
    Catalog.CatManifest(2L, 1L, 5L, Map("t" -> (("file:/lake/t", 3L)))))
  private val rulesText = ManifestCodec.renderRules(Seq(Rule("pos", "x > 0")))

  test("truncated JSON fails naming the file") {
    for (text <- Seq(ManifestFull, ShardFull, catalogText, rulesText)) {
      val cut = text.take(text.length / 2)
      rejects(ManifestCodec.parseManifest(cut, _))
      rejects(ManifestCodec.parseShard(shardFull.ref, cut, _))
      rejects(ManifestCodec.parseCatalog(cut, _))
      rejects(ManifestCodec.parseRules(cut, _))
    }
    rejects(ManifestCodec.parseManifest("", _))
  }

  test("a manifest without version fails naming the file") {
    rejects(ManifestCodec.parseManifest(without(ManifestFull, "\"version\":3,"), _))
    rejects(ManifestCodec.parseCatalog(without(catalogText, "\"version\":2,"), _))
  }

  test("a manifest without parent fails naming the file") {
    rejects(ManifestCodec.parseManifest(without(ManifestFull, "\"parent\":2,"), _))
    rejects(ManifestCodec.parseCatalog(without(catalogText, "\"parent\":1,"), _))
  }

  test("a manifest without shards fails naming the file, never reads as an empty table") {
    val root = "file:" + Files.createTempDirectory("mc").toString + "/t"
    Snapshots.commit(Seq(1L, 2L).toDF("id"), root)
    val p = new Path(s"$root/_snapshots/manifest-1.json")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val text = Snapshots.readText(spark, root, p)
    val out = f.create(p, true)
    try out.write(text.replaceFirst(",\"shards\":\\[[^\\]]*\\]", "").getBytes("UTF-8"))
    finally out.close()
    val e = intercept[IllegalStateException](Snapshots.read(spark, root).count())
    assert(e.getMessage.contains(p.toString), e.getMessage)
  }

  test("a shard without files fails naming the file") {
    rejects(ManifestCodec.parseShard(shardFull.ref, ShardFull.substring(0,
      ShardFull.indexOf(",\"files\":")) + "}", _))
  }

  test("an entry without file fails naming the file") {
    // the first occurrence is the first stats entry's; then a rows entry's
    rejects(ManifestCodec.parseShard(shardFull.ref,
      without(ShardFull, "\"file\":\"part-00000-a\\\"b\\\\c].parquet\","), _))
    rejects(ManifestCodec.parseShard(shardFull.ref,
      without(ShardFull, "{\"file\":\"part-00001-é中𝄞 x.parquet\",\"n\":58}", "{\"n\":58}"), _))
  }

  test("an entry without col fails naming the file") {
    rejects(ManifestCodec.parseShard(shardFull.ref, without(ShardFull, "\"col\":\"id\","), _))
    rejects(ManifestCodec.parseShard(shardFull.ref, without(ShardFull, "\"col\":\"key]\","), _))
  }

  test("an entry without min fails naming the file") {
    rejects(ManifestCodec.parseShard(shardFull.ref, without(ShardFull, "\"min\":0.0,"), _))
  }

  test("an entry without max fails naming the file") {
    rejects(ManifestCodec.parseShard(shardFull.ref, without(ShardFull, "\"max\":41.0,"), _))
  }

  test("an entry without n fails naming the file") {
    rejects(ManifestCodec.parseShard(shardFull.ref, without(ShardFull, ",\"n\":58"), _))
    rejects(ManifestCodec.parseManifest(without(ManifestMin, ",\"n\":0"), _))
  }

  test("an entry without name fails naming the file") {
    rejects(ManifestCodec.parseManifest(without(ManifestMin, "\"name\":\"shard-a.json\","), _))
    rejects(ManifestCodec.parseCatalog(without(catalogText, "\"name\":\"t\","), _))
    rejects(ManifestCodec.parseRules(without(rulesText, "\"name\":\"pos\","), _))
  }
}
