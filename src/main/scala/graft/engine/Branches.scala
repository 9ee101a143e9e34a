package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Write-audit-publish branches over [[Snapshots]] tables.
  *
  * A branch is an independent manifest chain sharing the table's data files
  * and metadata shards by reference (see [[Snapshots.branchRoot]]): fork and
  * publish are O(#shard-refs) metadata commits with ZERO file copies, and the
  * full Snapshots verb set — commit/merge/mergeInto/delete/deleteWhere/schema
  * evolution/time travel/compaction — works on the branch root unchanged.
  *
  * This is the lake-native form of the reference's staging-table swap
  * (pandas_aws/redshift.py:386-416: CREATE TABLE LIKE → COPY → rename swap),
  * generalized: the staging area is a first-class table state that any
  * number of validation queries can read before ANYTHING becomes visible to
  * main readers, and the swap is an atomic fast-forward of the main chain.
  *
  * Why it matters at 100 TB: an ingest that lands straight on the head makes
  * every mistake instantly public and forces validation to race consumers.
  * Branch isolation gives the write-audit-publish pattern (Iceberg's WAP /
  * Delta's branch staging, re-expressed minimally): land the batch on a
  * branch, run [[Expect]] audits against exactly the bytes that would
  * publish, then fast-forward — the main chain's readers observe either the
  * old head or the fully-audited new one, never an intermediate.
  *
  * Concurrency: publish is FAST-FORWARD-ONLY and fenced — it requires the
  * main head to still be the branch's fork base at flip time (enforced
  * atomically by the commit arbiter through `requireHead`). If main advanced
  * since the fork, publish aborts loudly and nothing changes; the caller
  * re-forks from the new head and replays. Dropping a branch deletes only
  * its manifest chain; shared files are reclaimed by the reference-counting
  * vacuum paths once no chain retains them.
  */
object Branches {

  private val ForkTagRe = "fork:(\\d+)".r

  /** The root string addressing branch `name` — pass anywhere a table root
    * is accepted. */
  def root(tableRoot: String, name: String): String =
    Snapshots.branchRoot(tableRoot, name)

  /** Branches currently existing at `tableRoot`, sorted. */
  def list(spark: SparkSession, tableRoot: String): Seq[String] =
    Snapshots.allRefs(spark, tableRoot).filter(_.nonEmpty)

  /** Fork branch `name` from the main chain's head (or `version`, when
    * given and still retained). Metadata-only: the branch's first manifest
    * carries the base version's shard refs and schema by reference. Returns
    * the branch head version (always 1). Racing forks of the same name: one
    * wins, the loser aborts loudly. */
  def fork(spark: SparkSession, tableRoot: String, name: String,
      version: Long = -1L): Long = {
    require(Snapshots.splitRef(tableRoot)._2.isEmpty,
      "fork from the TABLE root, not from another branch")
    val base =
      if (version > 0) version else Snapshots.headVersion(spark, tableRoot)
    require(base > 0, s"no snapshot committed at $tableRoot yet — nothing to fork")
    val meta = Snapshots.manifestMeta(spark, tableRoot, base)
    val bRoot = Snapshots.branchRoot(tableRoot, name)
    require(Snapshots.headVersion(spark, bRoot) == 0,
      s"branch '$name' already exists at $tableRoot — drop it or pick another name")
    // fork carries the base's exact file set — its clustering comes along
    Snapshots.publishMeta(spark, bRoot, tag = s"fork:$base", requireHead = 0L,
      retiredOverride = Some(meta.retired),
      clustering = _ => meta.clustering) { _ =>
      (meta.shardRefs, meta.schema)
    }
  }

  /** The main-chain version branch `name` forked from. Recorded as the tag
    * of the branch's first manifest; vacuuming a branch must retain it
    * (branches are short-lived staging areas — vacuum the table, not the
    * branch). */
  def forkBase(spark: SparkSession, tableRoot: String, name: String): Long = {
    val bRoot = Snapshots.branchRoot(tableRoot, name)
    require(Snapshots.headVersion(spark, bRoot) > 0,
      s"branch '$name' does not exist at $tableRoot")
    Snapshots.manifestMeta(spark, bRoot, 1L).tag match {
      case ForkTagRe(v) => v.toLong
      case t => sys.error(
        s"branch '$name' at $tableRoot has no fork record (manifest-1 tag '$t')")
    }
  }

  /** Atomically fast-forward the main chain to branch `name`'s head state.
    * Requires main's head to still be the fork base — the fence is enforced
    * inside the commit flip itself, so a racing main commit cannot slip in
    * between the check and the publish. Metadata-only (shared shards carry
    * by reference). Returns the new main version; the branch stays (drop it
    * when done). */
  def publish(spark: SparkSession, tableRoot: String, name: String): Long = {
    val bRoot = Snapshots.branchRoot(tableRoot, name)
    val bHead = Snapshots.headVersion(spark, bRoot)
    require(bHead > 0, s"branch '$name' does not exist at $tableRoot")
    val bMeta = Snapshots.manifestMeta(spark, bRoot, bHead)
    val base = forkBase(spark, tableRoot, name)
    val mainHead = Snapshots.headVersion(spark, tableRoot)
    require(mainHead == base,
      s"cannot fast-forward $tableRoot to branch '$name': main advanced to " +
        s"v$mainHead since the fork at v$base — re-fork from the new head and replay")
    // fast-forward: main becomes exactly the branch head's file set, so
    // main takes the branch head's clustering (whatever branch commits did)
    Snapshots.publishMeta(spark, tableRoot, tag = s"publish:$name",
      requireHead = base, retiredOverride = Some(bMeta.retired),
      clustering = _ => bMeta.clustering) { _ =>
      (bMeta.shardRefs, bMeta.schema)
    }
  }

  /** [[publish]] that REBASES instead of aborting when main advanced.
    *
    * APPEND-ONLY branches (the cheap shard-name proof): when every
    * fork-base metadata shard is still carried (by name) in the branch
    * head, the branch provably never rewrote, deleted, or compacted base
    * data, so its contribution is exactly its ADDED shards and those
    * commute with anything main did meanwhile (the snapshot-isolation
    * append semantics: main's merges/deletes/compactions touch
    * base-generation files, the branch's additions are fresh files). The
    * publish then lands `main head's refs + branch-added refs` through the
    * optimistic commit loop — no replay, no error, still metadata-only.
    *
    * Beyond append-only (round 10 — file-level disjointness): a branch
    * that DID rewrite or vector-delete base data rebases when the two
    * sides provably commute at row level:
    *  - the base files the branch touched (rewrote, removed, or grew a
    *    deletion vector on) are DISJOINT from the base files main touched
    *    since the fork — neither side's writes read the other's;
    *  - AND, unless every row-affecting branch commit was a
    *    row-PRESERVING layout rewrite (compaction / DV materialization,
    *    recognized by [[Snapshots.OptimizeTag]]), every interim MAIN
    *    commit must be one — a main append/merge could carry rows the
    *    branch's rewrite predicate would have touched on serial replay,
    *    which file identity cannot decide, so it refuses (re-fork and
    *    replay). A branch that only appended + compacted commutes with
    *    ANY disjoint main activity; a branch that changed rows commutes
    *    only with main layout maintenance.
    * The rebased head is `main head − branch-removed files + branch-added
    * files`, with the branch's deletion vectors carried onto surviving
    * base files — pure metadata surgery ([[Snapshots.rebaseSurgery]]), no
    * data re-pass, row-identical to the serial schedule by the argument
    * above. A vacuumed interim manifest refuses conservatively wherever
    * classification needs the history: the branch chain is always walked;
    * main's chain is classified (and so can refuse on a vacuumed manifest)
    * only when the branch changed rows — an append+optimize-only branch
    * commutes with any disjoint main activity, so main's history is never
    * inspected there.
    *
    * Schema: sides that didn't evolve inherit the other side's evolution
    * (physical names are rename-stable, so either schema reads both sides'
    * files); both sides evolving concurrently aborts. */
  def publishRebase(spark: SparkSession, tableRoot: String, name: String): Long = {
    val bRoot = Snapshots.branchRoot(tableRoot, name)
    val bHead = Snapshots.headVersion(spark, bRoot)
    require(bHead > 0, s"branch '$name' does not exist at $tableRoot")
    val base = forkBase(spark, tableRoot, name)
    if (Snapshots.headVersion(spark, tableRoot) == base)
      return publish(spark, tableRoot, name) // plain fast-forward

    val bMeta = Snapshots.manifestMeta(spark, bRoot, bHead)
    val baseMeta = Snapshots.manifestMeta(spark, tableRoot, base) // throws if vacuumed
    val baseRefs = baseMeta.shardRefs.map(_.name).toSet
    val branchRefs = bMeta.shardRefs
    if (!baseRefs.subsetOf(branchRefs.map(_.name).toSet))
      return publishRebaseGeneral(spark, tableRoot, name, base, bHead, bMeta, baseMeta)
    val added = branchRefs.filterNot(r => baseRefs.contains(r.name))

    // retired physical names are a table-lifetime fact on BOTH chains: a
    // branch-side dropColumn is metadata-only (all shard refs carried, so
    // it passes the append-only subset check above) and its retirement
    // must survive the rebase, or a later re-added column of the same name
    // would resurrect the pre-drop files' values. Union is always sound —
    // over-retiring only forces fresh physical names.
    val mainRetired = Snapshots
      .manifestMeta(spark, tableRoot, Snapshots.headVersion(spark, tableRoot)).retired
    val retired = (mainRetired ++ bMeta.retired).distinct
    Snapshots.publishMeta(spark, tableRoot, tag = s"publish:$name",
      retiredOverride = Some(retired)) { headOpt =>
      val h = headOpt.getOrElse(sys.error(s"main chain vanished at $tableRoot"))
      val schema = rebasedSchema(tableRoot, name, bMeta.schema, baseMeta.schema, h.schema)
      // a shard main already carries (e.g. a replayed publish of this same
      // branch) must not land twice — refs are carried by name
      val cur = h.shardRefs
      val curNames = cur.map(_.name).toSet
      (cur ++ added.filterNot(a => curNames.contains(a.name)), schema)
    }
  }

  private def rebasedSchema(tableRoot: String, name: String,
      branchSchema: String, baseSchema: String, mainSchema: String): String =
    if (branchSchema == baseSchema) mainSchema // branch didn't evolve
    else if (mainSchema == baseSchema) branchSchema // main didn't evolve
    else if (mainSchema == branchSchema) mainSchema
    else sys.error(s"branch '$name' and $tableRoot both evolved their schema " +
      "since the fork — resolve manually (re-fork and replay the evolution)")

  /** How one commit affected the table's ROWS, decided from metadata. */
  private sealed trait CommitKind
  /** Added files only (or metadata-only): adds rows, changes none. */
  private case object Append extends CommitKind
  /** [[Snapshots.OptimizeTag]]-tagged layout rewrite: row-preserving. */
  private case object Optimize extends CommitKind
  /** Removed files or grew a deletion vector, untagged: changed rows. */
  private case object RowChanging extends CommitKind

  /** Classify every commit in (fromV, toV] of `root`'s chain. Throws when
    * an interim manifest is vacuumed (caller refuses conservatively). */
  private def classifyChain(spark: SparkSession, root: String,
      fromV: Long, toV: Long): Seq[CommitKind] = {
    var prev = Snapshots.manifest(spark, root, fromV)
    ((fromV + 1) to toV).map { v =>
      val meta = Snapshots.manifestMeta(spark, root, v)
      val cur = Snapshots.manifest(spark, root, v)
      val removed = prev.files.toSet -- cur.files.toSet
      // a DV change on a CARRIED-FORWARD file is a row delete (vectors only
      // grow; they vanish only with their file)
      val carriedNames = {
        val curNames = cur.files.map(u => new Path(u).getName).toSet
        prev.files.map(u => new Path(u).getName).toSet intersect curNames
      }
      val dvChanged = {
        val pv = prev.dvs.map(d => d.file -> d.b64).toMap
        cur.dvs.exists(d => carriedNames.contains(d.file) &&
          !pv.get(d.file).contains(d.b64))
      }
      prev = cur
      if (removed.isEmpty && !dvChanged) Append
      else if (meta.tag.startsWith(Snapshots.OptimizeTag)) Optimize
      else RowChanging
    }
  }

  /** The file-level rebase for branches that rewrote base data — see
    * [[publishRebase]]. Validates against a specific main head, publishes
    * fenced to it, and re-validates on losing the race. */
  private def publishRebaseGeneral(
      spark: SparkSession,
      tableRoot: String,
      name: String,
      base: Long,
      bHead: Long,
      bMeta: Snapshots.ManifestMeta,
      baseMeta: Snapshots.ManifestMeta): Long = {
    val bRoot = Snapshots.branchRoot(tableRoot, name)
    def refuse(msg: String): Nothing = throw new IllegalArgumentException(
      s"cannot rebase branch '$name' onto $tableRoot: $msg — re-fork and replay instead")

    val baseM = Snapshots.manifest(spark, tableRoot, base)
    val bM = Snapshots.manifest(spark, bRoot, bHead)
    val baseFiles = baseM.files.toSet
    val bFiles = bM.files.toSet
    def dvMap(m: Snapshots.Manifest) = m.dvs.map(d => d.file -> d).toMap
    val baseDv = dvMap(baseM)
    val bDv = dvMap(bM)
    def nameOf(u: String) = new Path(u).getName
    val branchRemoved = baseFiles -- bFiles
    val branchDvChanged = (baseFiles intersect bFiles).filter { u =>
      val n = nameOf(u)
      bDv.get(n).map(_.b64) != baseDv.get(n).map(_.b64)
    }
    val branchTouched = branchRemoved ++ branchDvChanged

    val branchKinds =
      try classifyChain(spark, bRoot, 1L, bHead)
      catch { case scala.util.control.NonFatal(_) =>
        refuse("a branch manifest is already vacuumed (cannot classify its commits)") }
    val branchRowChanging = branchKinds.contains(RowChanging)

    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > 10) refuse("main kept advancing during the rebase (10 attempts)")
      val mainHead = Snapshots.headVersion(spark, tableRoot)
      val mainMeta = Snapshots.manifestMeta(spark, tableRoot, mainHead)
      val mainM = Snapshots.manifest(spark, tableRoot, mainHead)
      val mainFiles = mainM.files.toSet
      val mainDv = dvMap(mainM)
      val mainRemoved = baseFiles -- mainFiles
      val mainDvChanged = (baseFiles intersect mainFiles).filter { u =>
        val n = nameOf(u)
        mainDv.get(n).map(_.b64) != baseDv.get(n).map(_.b64)
      }
      val mainTouched = mainRemoved ++ mainDvChanged

      val clash = branchTouched intersect mainTouched
      if (clash.nonEmpty)
        refuse(s"both sides touched ${clash.size} of the same base file(s)")
      if (branchRowChanging) {
        val mainKinds =
          try classifyChain(spark, tableRoot, base, mainHead)
          catch { case scala.util.control.NonFatal(_) =>
            refuse("an interim main manifest is already vacuumed") }
        if (!mainKinds.forall(_ == Optimize))
          refuse("the branch changed rows and main's interim commits are not " +
            "all row-preserving layout rewrites — serial replay could differ")
      }

      // metadata surgery: main head minus branch-removed files, branch DVs
      // carried onto surviving base files, plus the branch's added files
      val dvUpdates = branchDvChanged.map(u => nameOf(u) -> bDv(nameOf(u))).toMap
      val mainSide = Snapshots.rebaseSurgery(spark, tableRoot, mainMeta,
        branchRemoved, dvUpdates)
      val branchSide = Snapshots.rebaseSurgery(spark, bRoot, bMeta,
        bFiles intersect baseFiles, Map.empty)
      val mainNames = mainSide.map(_.name).toSet
      val retired = (mainMeta.retired ++ bMeta.retired).distinct
      val schema = rebasedSchema(tableRoot, name, bMeta.schema, baseMeta.schema,
        mainMeta.schema)
      try {
        return Snapshots.publishMeta(spark, tableRoot, tag = s"publish:$name",
          requireHead = mainHead, retiredOverride = Some(retired)) { _ =>
          (mainSide ++ branchSide.filterNot(r => mainNames.contains(r.name)), schema)
        }
      } catch {
        case _: Snapshots.ConcurrentCommitException => () // re-validate, retry
      }
    }
    0L // unreachable
  }

  /** The WRITE-AUDIT-PUBLISH gate: run `rules` against the branch's current
    * state (one aggregate pass, [[Expect.audit]]); publish only when every
    * rule has zero violations. Returns Right(new main version) on publish,
    * Left(violation report rows) — and an untouched main chain — otherwise.
    * `rebase = true` routes through [[publishRebase]] (append-only branches
    * survive a concurrently advancing main). */
  def publishIf(spark: SparkSession, tableRoot: String, name: String,
      rules: Seq[graft.operators.Expect.Rule],
      rebase: Boolean = false): Either[DataFrame, Long] = {
    val bRoot = Snapshots.branchRoot(tableRoot, name)
    val report = graft.operators.Expect.audit(Snapshots.read(spark, bRoot), rules)
    val bad = report.filter(org.apache.spark.sql.functions.col("n_violations") > 0L)
    if (!bad.isEmpty) Left(bad)
    else Right(
      if (rebase) publishRebase(spark, tableRoot, name)
      else publish(spark, tableRoot, name))
  }

  /** What [[publish]] would make visible: the net row changes between the
    * branch's fork state and its head — the review surface of the WAP loop
    * (audit rules gate mechanically; a human or a diff-driven check reads
    * this). The branch's first manifest IS the fork state carried by
    * reference, so this is the in-chain CDC read (`Snapshots.changes`) at
    * changed-files cost, with `_op` = 'I'/'D'; `pendingChangesTyped` gives
    * the keyed insert/delete/update_pre/update_post form. */
  def pendingChanges(spark: SparkSession, tableRoot: String, name: String): DataFrame = {
    val bRoot = Snapshots.branchRoot(tableRoot, name)
    val head = Snapshots.headVersion(spark, bRoot)
    require(head > 0, s"branch '$name' does not exist at $tableRoot")
    Snapshots.changes(spark, bRoot, 1L, head)
  }

  /** [[pendingChanges]] in the typed Delta-CDF shape, classified by `key`. */
  def pendingChangesTyped(spark: SparkSession, tableRoot: String, name: String,
      key: String): DataFrame = {
    val bRoot = Snapshots.branchRoot(tableRoot, name)
    val head = Snapshots.headVersion(spark, bRoot)
    require(head > 0, s"branch '$name' does not exist at $tableRoot")
    Snapshots.changesTyped(spark, bRoot, 1L, head, key)
  }

  /** Drop every branch whose LAST COMMIT is older than `ttlMs` — the
    * staging-debris bound: a forgotten WAP branch pins its fork-base files
    * against vacuum forever (the cross-chain reference counting working as
    * designed), so long-lived tables need a TTL sweep. Rides
    * [[graft.engine.MaintenancePolicy.branchTtlMs]]; returns the dropped
    * names. A branch someone is actively committing to has a fresh head ts
    * and survives; pick a TTL above the longest legitimate audit window. */
  def dropExpired(spark: SparkSession, tableRoot: String, ttlMs: Long): Seq[String] = {
    require(ttlMs >= 0, "ttlMs must be non-negative")
    val cutoff = System.currentTimeMillis() - ttlMs
    list(spark, tableRoot).filter { name =>
      val bRoot = Snapshots.branchRoot(tableRoot, name)
      val head = Snapshots.headVersion(spark, bRoot)
      val stale = head > 0 &&
        Snapshots.manifestMeta(spark, bRoot, head).ts < cutoff
      if (stale) drop(spark, tableRoot, name)
      stale
    }
  }

  /** Delete branch `name`'s manifest chain. Shared data files / shards are
    * untouched here; anything the branch alone referenced becomes orphaned
    * and is reclaimed by [[Snapshots.vacuumOrphans]] after its grace
    * window. */
  def drop(spark: SparkSession, tableRoot: String, name: String): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"bad branch name '$name'")
    val dir = new Path(s"${Snapshots.dataRoot(tableRoot)}/_snapshots/refs/$name")
    val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(dir, true)
    ()
  }
}
