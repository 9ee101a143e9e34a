package graft.engine

import org.scalacheck.{Gen, Prop, Properties}

import graft.engine.Catalog.CatManifest
import graft.engine.Checks.Rule
import graft.engine.Snapshots._

/** Property tests for the metadata codec: render→parse is the identity
  * for manifests, shard bodies, catalog manifests, check rules and stream
  * offsets, over strings built from JSON metacharacters, backslashes,
  * literal `\u` sequences, control characters, non-BMP code points and
  * tokens of 64 KB and more (in-memory, no Spark session needed). */
object ManifestCodecProps extends Properties("ManifestCodec") {

  private val piece: Gen[String] = Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    4 -> Gen.oneOf("\"", "[", "]", "{", "}", "\\", ",", ":", "\\u", "\\u00e9", "\\\"", "é", "中", "!"),
    2 -> Gen.choose(0.toChar, 31.toChar).map(_.toString),
    2 -> Gen.choose(0x10000, 0x10FFFF).map(cp => new String(Character.toChars(cp))))

  private val short: Gen[String] = Gen.choose(0, 12).flatMap(Gen.listOfN(_, piece)).map(_.mkString)

  private val hostile: Gen[String] = Gen.frequency(
    30 -> short,
    1 -> short.map(s => (s + "x") * (65536 / (s.length + 1) + 1)))

  private def few[A](g: Gen[A]): Gen[Seq[A]] = Gen.choose(0, 4).flatMap(Gen.listOfN(_, g))

  private val anyLong: Gen[Long] = Gen.choose(Long.MinValue, Long.MaxValue)

  private val double: Gen[Double] = Gen.frequency(
    4 -> Gen.choose(-1e300, 1e300),
    1 -> Gen.oneOf(0.0, -1.5e-7, 1.0e21, Double.MinPositiveValue, Double.MaxValue, -Double.MaxValue))

  private val colStats: Gen[ColStats] = for {
    file <- hostile; col <- hostile; min <- double; max <- double; nulls <- anyLong
    bounds <- Gen.option(Gen.zip(hostile, hostile))
    sum <- Gen.option(hostile); nr <- Gen.oneOf(true, false)
  } yield ColStats(file, col, min, max, nulls, bounds.map(_._1).orNull, bounds.map(_._2).orNull,
    sum.orNull, nr)

  // "b" is written only when known (>= 0); unknown reads back as -1
  private val fileRows: Gen[FileRows] = for {
    file <- hostile; n <- anyLong; b <- Gen.oneOf(Gen.const(-1L), Gen.choose(0L, Long.MaxValue))
  } yield FileRows(file, n, b)

  private val shard: Gen[Shard] = for {
    name <- hostile; n <- anyLong; files <- few(hostile); stats <- few(colStats)
    rows <- few(fileRows)
    blooms <- few(Gen.zip(hostile, hostile, hostile).map((FileBloom.apply _).tupled))
    dvs <- few(Gen.zip(hostile, hostile, anyLong).map((FileDv.apply _).tupled))
    tsExact <- Gen.oneOf(true, false)
  } yield Shard(ShardRef(name, n), files, stats, rows, blooms, dvs, tsExact)

  private val manifest: Gen[ManifestMeta] = for {
    version <- anyLong; parent <- anyLong; ts <- anyLong
    refs <- few(Gen.zip(hostile, anyLong).map((ShardRef.apply _).tupled))
    tag <- hostile; schema <- hostile; retired <- few(hostile)
    clustering <- Gen.option(for {
      cols <- few(hostile); buckets <- Gen.choose(Int.MinValue, Int.MaxValue)
      sorted <- Gen.oneOf(true, false)
    } yield Clustering(cols, buckets, sorted))
    indexed <- Gen.option(Gen.zip(few(hostile), few(hostile)))
  } yield ManifestMeta(version, parent, refs, tag, ts, schema, retired, clustering, indexed)

  private val catalog: Gen[CatManifest] = for {
    version <- anyLong; parent <- anyLong; ts <- anyLong
    tables <- few(Gen.zip(hostile, hostile, anyLong))
  } yield CatManifest(version, parent, ts, tables.map { case (n, r, v) => n -> (r, v) }.toMap)

  property("manifests round-trip") = Prop.forAll(manifest) { m =>
    ManifestCodec.parseManifest(ManifestCodec.renderManifest(m), "m") == m
  }

  property("shard bodies round-trip") = Prop.forAll(shard) { sh =>
    ManifestCodec.parseShard(sh.ref, ManifestCodec.renderShard(sh), "s") == sh
  }

  property("catalog manifests round-trip") = Prop.forAll(catalog) { c =>
    ManifestCodec.parseCatalog(ManifestCodec.renderCatalog(c), "c") == c
  }

  property("check rules round-trip") =
    Prop.forAll(few(Gen.zip(hostile, hostile).map((Rule.apply _).tupled))) { rules =>
      ManifestCodec.parseRules(ManifestCodec.renderRules(rules), "r") == rules
    }

  property("stream offsets round-trip") = Prop.forAll(anyLong) { v =>
    ManifestCodec.parseOffset(ManifestCodec.renderOffset(v)) == v
  }
}
