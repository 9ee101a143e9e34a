package graft.engine

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonGenerator, JsonProcessingException, StreamReadConstraints}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.engine.Checks.Rule
import graft.engine.Catalog.CatManifest
import graft.engine.Snapshots.{Clustering, ColStats, FileBloom, FileDv, FileRows, ManifestMeta,
  Shard, ShardRef}

/** The one JSON codec for the lake's on-disk metadata: table manifests,
  * metadata shards, catalog manifests, check-rule files and the streaming
  * source's offset. Nothing else renders or parses them.
  *
  * Writes keep a fixed key order and omit optional fields at their
  * defaults, so a file's bytes depend only on its content. Reads are by
  * key, and fail loudly — naming the file — on malformed JSON, a missing
  * required field or a mistyped value; an absent optional field reads as
  * its default. Readers of older files rely on these defaults:
  *  - a stats entry without `nulls` reads -1 (unknown), a rows entry
  *    without `b` reads -1 (unknown size), a shard without `rows` has no
  *    recorded counts;
  *  - a shard without `"tsus":true` recorded TIMESTAMP stats in rounded
  *    seconds, which [[Snapshots]] hides from every pruning consumer;
  *  - a single-column clustering spec is written (and read) as `"col"`,
  *    a composite one as a `"cols"` array. */
private[graft] object ManifestCodec {

  private val mapper = new ObjectMapper()
  // no cap on string length (Jackson's default is 20M chars): a deletion
  // vector's base64 grows with its file's row count
  mapper.getFactory.setStreamReadConstraints(
    StreamReadConstraints.builder().maxStringLength(Int.MaxValue).build())

  private def render(body: JsonGenerator => Unit): String = {
    val w = new java.io.StringWriter
    val g = mapper.getFactory.createGenerator(w)
    try body(g) finally g.close()
    w.toString
  }

  private def strings(g: JsonGenerator, key: String, xs: Seq[String]): Unit = {
    g.writeArrayFieldStart(key)
    xs.foreach(g.writeString)
    g.writeEndArray()
  }

  private def objects[A](g: JsonGenerator, key: String, xs: Seq[A])(f: A => Unit): Unit = {
    g.writeArrayFieldStart(key)
    xs.foreach { x => g.writeStartObject(); f(x); g.writeEndObject() }
    g.writeEndArray()
  }

  def renderManifest(m: ManifestMeta): String = render { g =>
    g.writeStartObject()
    g.writeNumberField("version", m.version)
    g.writeNumberField("parent", m.parent)
    g.writeNumberField("ts", m.ts)
    g.writeStringField("tag", m.tag)
    g.writeStringField("schema", m.schema)
    objects(g, "shards", m.shardRefs) { r =>
      g.writeStringField("name", r.name)
      g.writeNumberField("n", r.n)
    }
    if (m.retired.nonEmpty) strings(g, "retired", m.retired)
    m.clustering.foreach { c =>
      g.writeObjectFieldStart("clustering")
      if (c.cols.length == 1) g.writeStringField("col", c.cols.head)
      else strings(g, "cols", c.cols)
      g.writeNumberField("buckets", c.buckets)
      if (c.sorted) g.writeBooleanField("sorted", true)
      g.writeEndObject()
    }
    m.indexed.foreach { case (s, b) =>
      g.writeObjectFieldStart("indexed")
      strings(g, "s", s)
      strings(g, "b", b)
      g.writeEndObject()
    }
    g.writeEndObject()
  }

  /** A shard body; `sh.ref` is not part of it (the manifest holds refs). */
  def renderShard(sh: Shard): String = render { g =>
    g.writeStartObject()
    objects(g, "stats", sh.stats) { s =>
      g.writeStringField("file", s.file)
      g.writeStringField("col", s.col)
      g.writeNumberField("min", s.min)
      g.writeNumberField("max", s.max)
      g.writeNumberField("nulls", s.nulls)
      if (s.nr) g.writeNumberField("nr", 1)
      if (s.sumS != null) g.writeStringField("sum", s.sumS)
      if (s.slo != null) {
        g.writeStringField("slo", s.slo)
        g.writeStringField("shi", s.shi)
      }
    }
    objects(g, "rows", sh.rows) { r =>
      g.writeStringField("file", r.file)
      g.writeNumberField("n", r.n)
      if (r.bytes >= 0L) g.writeNumberField("b", r.bytes)
    }
    if (sh.blooms.nonEmpty) objects(g, "blooms", sh.blooms) { b =>
      g.writeStringField("file", b.file)
      g.writeStringField("col", b.col)
      g.writeStringField("b64", b.b64)
    }
    if (sh.dvs.nonEmpty) objects(g, "dvs", sh.dvs) { d =>
      g.writeStringField("file", d.file)
      g.writeStringField("dv64", d.b64)
      g.writeNumberField("del", d.deleted)
    }
    if (sh.tsExact) g.writeBooleanField("tsus", true)
    strings(g, "files", sh.files)
    g.writeEndObject()
  }

  /** Tables sorted by name, so equal catalogs render equal bytes. */
  def renderCatalog(m: CatManifest): String = render { g =>
    g.writeStartObject()
    g.writeNumberField("version", m.version)
    g.writeNumberField("parent", m.parent)
    g.writeNumberField("ts", m.ts)
    objects(g, "tables", m.tables.toSeq.sortBy(_._1)) { case (n, (root, v)) =>
      g.writeStringField("name", n)
      g.writeStringField("root", root)
      g.writeNumberField("v", v)
    }
    g.writeEndObject()
  }

  def renderRules(rules: Seq[Rule]): String = render { g =>
    g.writeStartArray()
    rules.foreach { r =>
      g.writeStartObject()
      g.writeStringField("name", r.name)
      g.writeStringField("expr", r.exprSql)
      g.writeEndObject()
    }
    g.writeEndArray()
  }

  def renderOffset(version: Long): String = render { g =>
    g.writeStartObject()
    g.writeNumberField("version", version)
    g.writeEndObject()
  }

  private final class Malformed(msg: String) extends RuntimeException(msg)

  /** Parse `text` (read from `path`, named in every error) with `read`. */
  private def parse[A](text: String, path: String)(read: JsonNode => A): A =
    try read(mapper.readTree(text))
    catch {
      case e @ (_: JsonProcessingException | _: Malformed) =>
        throw new IllegalStateException(s"malformed metadata $path: ${e.getMessage}", e)
    }

  private def opt(n: JsonNode, key: String, ok: JsonNode => Boolean): Option[JsonNode] =
    Option(n.get(key)).map(v =>
      if (ok(v)) v else throw new Malformed(s""""$key" has the wrong type"""))

  private def req(n: JsonNode, key: String, ok: JsonNode => Boolean): JsonNode =
    opt(n, key, ok).getOrElse(throw new Malformed(s"""missing "$key""""))

  private val isLong: JsonNode => Boolean = v => v.isIntegralNumber && v.canConvertToLong

  private def long(n: JsonNode, key: String): Long = req(n, key, isLong).longValue
  private def optLong(n: JsonNode, key: String): Option[Long] = opt(n, key, isLong).map(_.longValue)
  private def double(n: JsonNode, key: String): Double = req(n, key, _.isNumber).doubleValue
  private def str(n: JsonNode, key: String): String = req(n, key, _.isTextual).textValue
  private def optStr(n: JsonNode, key: String): Option[String] =
    opt(n, key, _.isTextual).map(_.textValue)
  private def flag(n: JsonNode, key: String): Boolean =
    opt(n, key, _.isBoolean).exists(_.booleanValue)

  private def elems(a: Option[JsonNode]): Seq[JsonNode] =
    a.fold(Seq.empty[JsonNode])(_.elements.asScala.toSeq)
  /** The array at `key`; an absent one reads as empty. */
  private def arr(n: JsonNode, key: String): Seq[JsonNode] = elems(opt(n, key, _.isArray))
  private def reqArr(n: JsonNode, key: String): Seq[JsonNode] = elems(Some(req(n, key, _.isArray)))
  private def texts(key: String, a: Seq[JsonNode]): Seq[String] =
    a.map(e =>
      if (e.isTextual) e.textValue else throw new Malformed(s""""$key" holds a non-string"""))

  def parseManifest(text: String, path: String): ManifestMeta = parse(text, path) { n =>
    ManifestMeta(long(n, "version"), long(n, "parent"),
      reqArr(n, "shards").map(r => ShardRef(str(r, "name"), long(r, "n"))),
      tag = optStr(n, "tag").getOrElse(""),
      ts = optLong(n, "ts").getOrElse(0L),
      schema = optStr(n, "schema").getOrElse(""),
      retired = texts("retired", arr(n, "retired")),
      clustering = opt(n, "clustering", _.isObject).map { c =>
        val cols = optStr(c, "col").fold(texts("cols", reqArr(c, "cols")))(Seq(_))
        Clustering(cols, long(c, "buckets").toInt, sorted = flag(c, "sorted"))
      },
      indexed = opt(n, "indexed", _.isObject)
        .map(i => (texts("s", reqArr(i, "s")), texts("b", reqArr(i, "b")))))
  }

  def parseShard(ref: ShardRef, text: String, path: String): Shard = parse(text, path) { n =>
    Shard(ref, texts("files", reqArr(n, "files")),
      arr(n, "stats").map(s => ColStats(str(s, "file"), str(s, "col"),
        double(s, "min"), double(s, "max"),
        nulls = optLong(s, "nulls").getOrElse(-1L),
        slo = optStr(s, "slo").orNull, shi = optStr(s, "shi").orNull,
        sumS = optStr(s, "sum").orNull,
        nr = optLong(s, "nr").contains(1L))),
      arr(n, "rows").map(r =>
        FileRows(str(r, "file"), long(r, "n"), optLong(r, "b").getOrElse(-1L))),
      arr(n, "blooms").map(b => FileBloom(str(b, "file"), str(b, "col"), str(b, "b64"))),
      arr(n, "dvs").map(d => FileDv(str(d, "file"), str(d, "dv64"), long(d, "del"))),
      tsExact = flag(n, "tsus"))
  }

  def parseCatalog(text: String, path: String): CatManifest = parse(text, path) { n =>
    CatManifest(long(n, "version"), long(n, "parent"), long(n, "ts"),
      reqArr(n, "tables").map(t => str(t, "name") -> (str(t, "root"), long(t, "v"))).toMap)
  }

  def parseRules(text: String, path: String): Seq[Rule] = parse(text, path) { n =>
    if (!n.isArray) throw new Malformed("rules are not a JSON array")
    elems(Some(n)).map(r => Rule(str(r, "name"), str(r, "expr")))
  }

  def parseOffset(json: String): Long =
    parse(json, s"snapshot-stream offset $json")(long(_, "version"))
}
