package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted table-level CHECK constraints over [[Snapshots]] tables — the
  * lakehouse-native form of the warehouse DDL constraints the reference
  * declares at CREATE TABLE time (NOT NULL / sort-key hygiene,
  * pandas_aws/redshift.py:193-247): a rule attached to the TABLE, not to
  * any one writer, enforced on every path that writes rows — commit, merge,
  * MERGE INTO, copy-on-write delete rewrites, compaction, and every
  * streaming sink riding them.
  *
  * Semantics follow SQL CHECK: a row passes when the predicate is TRUE or
  * NULL; only FALSE is a violation (so `col("x") >= 0` admits null x, and
  * NOT NULL is spelled `col("x").isNotNull`). A batch that omits a checked
  * column entirely is evaluated as if the column were null on every row —
  * the same rows a schema-merging read would surface — so a predicate rule
  * passes it and an IS NOT NULL rule rejects it, never an analysis error.
  *
  * Enforcement is ZERO extra passes: [[Snapshots]] attaches the rules as
  * `Observation` metrics on the batch being written, so violation counts
  * ride the write job itself — no second scan of the batch, at any batch
  * size. A violating batch aborts BEFORE the manifest publishes: the staged
  * data directory is deleted and nothing becomes visible (the same
  * invisible-abort contract every snapshot write has), so readers never see
  * a half-admitted batch and a retry after fixing the data is a plain
  * re-run. If the rule set CHANGED while the batch was writing (a
  * concurrent `add` — the minutes-long window of a big write), the write
  * path re-validates the just-written files against the new rules before
  * publishing: one scan of this batch's files, only in the race.
  *
  * `add` validates EXISTING data first — the current head of EVERY chain,
  * main and branches (a branch is a future fast-forward of main, so an
  * unvalidated branch would launder violating rows into main through a
  * metadata-only publish) — and refuses if any current row violates the
  * rule: the Delta/Iceberg contract that makes "all committed rows satisfy
  * all checks" an invariant rather than a hope. [[Snapshots.restore]]
  * closes the remaining metadata-only door by validating the restored-to
  * state when rules exist (history predating a rule was never vetted by
  * it). Rules persist as `_snapshots/checks/checks-<n>.json` generations
  * (their own directory — the hot write path never lists the manifest
  * history to discover them), each a full rule list published
  * create-if-absent through the store's [[CommitArbiter]] — concurrent
  * adds race safely (the loser re-reads and republishes), and
  * crash-interrupted updates leave the prior generation intact. Rules are
  * stored as SQL expression text (re-parsed per write), so they survive
  * sessions and travel with the table directory; branches of the table
  * share them (the rule set is table policy, like [[MaintenancePolicy]] —
  * a WAP staging branch is checked at write time, before its publish-time
  * audit even runs).
  */
object Checks {

  /** One named constraint; `exprSql` is the predicate's SQL text. */
  final case class Rule(name: String, exprSql: String) {
    def cond: Column = expr(exprSql)
  }

  private val FileRe = "checks-(\\d+)\\.json".r

  private def checksDir(root: String) =
    s"${Snapshots.dataRoot(root)}/_snapshots/checks"

  private def fsOf(spark: SparkSession, root: String) =
    new Path(Snapshots.dataRoot(root))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (latest generation number, its rules) — (0, empty) when none. The
    * no-checks case is one existence probe of a dedicated directory, never
    * a listing of the table's manifest history. */
  private[engine] def listWithGen(
      spark: SparkSession, root: String): (Long, Seq[Rule]) = {
    val f = fsOf(spark, root)
    val dir = new Path(checksDir(root))
    if (!f.exists(dir)) return (0L, Seq.empty)
    val n = f.listStatus(dir).toSeq
      .flatMap(st => FileRe.findFirstMatchIn(st.getPath.getName).map(_.group(1).toLong))
      .maxOption.getOrElse(0L)
    if (n == 0) return (0L, Seq.empty)
    val p = new Path(s"${checksDir(root)}/checks-$n.json")
    (n, ManifestCodec.parseRules(Snapshots.readText(spark, root, p), p.toString))
  }

  /** The table's current rule set (empty when unconstrained). */
  def list(spark: SparkSession, root: String): Seq[Rule] =
    listWithGen(spark, root)._2

  /** Attach a named CHECK, its predicate as SQL text (the DDL shape:
    * `CHECK (quality >= 0)` travels as `"quality >= 0"`). Validates
    * existing data first — the head of every chain, branches included: if
    * any current row violates the predicate, the add refuses and nothing
    * changes. After a successful add, every committed row (past and
    * future, on every chain) satisfies every listed rule — up to one
    * documented residual race: rule generations and manifest commits are
    * arbitrated separately, so a write whose final rule-generation re-read
    * predates this add's publish and whose manifest lands after this add's
    * post-publish sweep can carry unvetted rows. The sweep rolls the rule
    * back when it catches the racer; the remaining interleaving spans one
    * manifest file-create (the write-side re-check sits immediately before
    * publish), and [[verify]] audits it after the fact. */
  def add(spark: SparkSession, root: String, name: String, condSql: String): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"check name '$name' must match [A-Za-z0-9._-]+")
    expr(condSql) // must parse, or every write would fail
    val base = Snapshots.dataRoot(root)
    Snapshots.allRefs(spark, base).foreach { ref =>
      val chain = if (ref.isEmpty) base else Snapshots.branchRoot(base, ref)
      if (Snapshots.headVersion(spark, chain) > 0) {
        val where = if (ref.isEmpty) "existing rows" else s"branch '$ref' rows"
        require(findViolation(Snapshots.read(spark, chain),
          Seq(Rule(name, condSql))).isEmpty,
          s"cannot add check '$name' at $root: $where violate it")
      }
    }
    publishRules(spark, root, { rules =>
      require(!rules.exists(_.name == name),
        s"check '$name' already exists at $root")
      rules :+ Rule(name, condSql)
    })
    // post-publish sweep: a batch VALIDATED against the pre-add rule set
    // can publish its manifest in the window between the head validation
    // above and the rule generation landing (the write path re-checks the
    // generation before publishing, but that re-check and this publish are
    // not mutually ordered — rule generations and manifest commits go
    // through separate arbiters). Re-validate every chain head now that
    // the rule is live: if a racer landed violating rows, ROLL the rule
    // BACK (publish a generation without it) and refuse the add — the
    // invariant converges instead of silently breaking. The residual
    // window is a racer whose final generation re-read predates this
    // publish AND whose manifest lands after this sweep reads the head —
    // the write-side re-check sits immediately before manifest publish,
    // so that interleaving spans one file-create, not the minutes of the
    // data write; `verify` audits it after the fact.
    Snapshots.allRefs(spark, base).foreach { ref =>
      val chain = if (ref.isEmpty) base else Snapshots.branchRoot(base, ref)
      if (Snapshots.headVersion(spark, chain) > 0 &&
          findViolation(Snapshots.read(spark, chain),
            Seq(Rule(name, condSql))).nonEmpty) {
        publishRules(spark, root, _.filterNot(_.name == name))
        val where = if (ref.isEmpty) "rows" else s"branch '$ref' rows"
        throw new IllegalArgumentException(
          s"cannot add check '$name' at $root: a write racing this add " +
            s"landed $where that violate it; the rule was rolled back")
      }
    }
  }

  /** Remove a named CHECK (future writes stop enforcing it). */
  def drop(spark: SparkSession, root: String, name: String): Unit =
    publishRules(spark, root, { rules =>
      require(rules.exists(_.name == name), s"no check '$name' at $root")
      rules.filterNot(_.name == name)
    })

  /** Re-validate the table's CURRENT head against every rule, returning
    * the violated rule names (empty = invariant holds). The operator's
    * audit verb: by construction writes keep the invariant, but it makes
    * the claim checkable rather than trusted. */
  def verify(spark: SparkSession, root: String): Seq[String] = {
    val rules = list(spark, root)
    if (rules.isEmpty || Snapshots.headVersion(spark, root) == 0) Seq.empty
    else findViolation(Snapshots.read(spark, root), rules).toSeq.map(_._1)
  }

  /** The table's rules as a ROW-LEVEL gate over `df`: the frame with any
    * missing checked columns null-augmented (so rules resolve with the
    * schema-merging read semantics) paired with [[graft.operators.Expect]]
    * rules in CHECK semantics — a row passes on TRUE or NULL, fails only
    * on FALSE. The bridge streaming sinks use to split a batch instead of
    * letting a poison pill crash-loop the whole write. */
  def gate(spark: SparkSession, root: String,
      df: DataFrame): (DataFrame, Seq[graft.operators.Expect.Rule]) = {
    val rules = list(spark, root)
    (augmentMissing(spark, df, rules, tableSchema(spark, root)),
      rules.map(r => graft.operators.Expect.Rule(r.name,
        coalesce(r.cond, lit(true)))))
  }

  /** TOP-LEVEL column names a rule set references — the guard rename/drop
    * schema evolution consults (a rename would orphan the rule's text). A
    * struct-field reference like `meta.lang` pins the ROOT column `meta`. */
  private[engine] def referenced(
      spark: SparkSession, rules: Seq[Rule]): Set[String] =
    rules.flatMap(r =>
      spark.sessionState.sqlParser.parseExpression(r.exprSql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head
      }).toSet

  /** Per-rule violation-count metrics: rows where the predicate is
    * strictly FALSE (null passes, per SQL). */
  private[engine] def violationCounts(rules: Seq[Rule]): Seq[Column] =
    rules.map(r => count_if(!coalesce(r.cond, lit(true))).as(r.name))

  /** Root column names a rule set references THROUGH a struct field
    * (`meta.lang` → `meta`) — these need a TYPED null when absent, or the
    * field extraction fails analysis on NullType. */
  private def nestedReferenced(
      spark: SparkSession, rules: Seq[Rule]): Set[String] =
    rules.flatMap(r =>
      spark.sessionState.sqlParser.parseExpression(r.exprSql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if a.nameParts.length > 1 => a.nameParts.head
      }).toSet

  /** The table's recorded head schema, for typing null-augmented columns.
    * By-name at call sites: the lookup only runs when a rule references a
    * column the batch actually lacks. */
  private[engine] def tableSchema(
      spark: SparkSession, root: String): Option[org.apache.spark.sql.types.StructType] = {
    val v = Snapshots.headVersion(spark, root)
    if (v == 0) None
    else Snapshots.parseSchemaStr(Snapshots.manifest(spark, root, v).schema)
  }

  /** `df` with every rule-referenced column the frame LACKS added as a
    * null literal — the rows a schema-merging read of this batch would
    * surface, so rule evaluation matches read-time semantics instead of
    * failing to resolve. Nulls are CAST to the table's recorded type when
    * known, so a struct-field rule (`meta.lang IS NOT NULL`) on a batch
    * lacking `meta` evaluates (to null → the field is null) instead of
    * failing to extract from NullType; a nested reference to a column the
    * TABLE doesn't know either is refused with a clear error. */
  private[engine] def augmentMissing(
      spark: SparkSession, df: DataFrame, rules: Seq[Rule],
      schemaHint: => Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val have = df.columns.toSet
    val missing = referenced(spark, rules).diff(have).toSeq.sorted
    if (missing.isEmpty) return df
    val ts = schemaHint
    val nested = nestedReferenced(spark, rules)
    missing.foldLeft(df) { (d, c) =>
      ts.flatMap(_.fields.find(_.name == c).map(_.dataType)) match {
        case Some(dt) => d.withColumn(c, lit(null).cast(dt))
        case None =>
          require(!nested.contains(c),
            s"check rule references nested field of '$c', which neither " +
              "this batch nor the table schema defines — cannot type the " +
              "null placeholder")
          d.withColumn(c, lit(null))
      }
    }
  }

  /** First violated (rule name, count), if any, over `df` — the one-pass
    * validation used by `add`, `verify`, and the write path's re-check
    * after a racing rule change. */
  private[engine] def findViolation(
      df: DataFrame, rules: Seq[Rule],
      schemaHint: => Option[org.apache.spark.sql.types.StructType] = None)
      : Option[(String, Long)] = {
    if (rules.isEmpty) return None
    val aug = augmentMissing(df.sparkSession, df, rules, schemaHint)
    val row = aug.select(violationCounts(rules): _*).head()
    rules.zipWithIndex
      .map { case (r, i) => (r.name, row.getLong(i)) }
      .find(_._2 > 0L)
  }

  /** Optimistic create-if-absent publish of the next rules generation. */
  private def publishRules(
      spark: SparkSession, root: String, f: Seq[Rule] => Seq[Rule]): Unit = {
    val fsys = fsOf(spark, root)
    var done = false
    while (!done) {
      val (n, cur) = listWithGen(spark, root)
      val next = f(cur)
      fsys.mkdirs(new Path(checksDir(root)))
      val tmp = new Path(s"${checksDir(root)}/.tmp-${java.util.UUID.randomUUID()}")
      val out = fsys.create(tmp, /*overwrite=*/ true)
      try out.write(ManifestCodec.renderRules(next).getBytes("UTF-8")) finally out.close()
      val target = new Path(s"${checksDir(root)}/checks-${n + 1}.json")
      done = try Snapshots.atomicNoReplace(fsys, tmp, target)
        finally fsys.delete(tmp, false)
      // lost the race: another writer published n+1 — re-read, re-apply
    }
  }
}
