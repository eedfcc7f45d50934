package graft.api

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The index-family kernel: the ONE implementation of the LSM posture
  * every persisted index shares — minhash, fingerprint, gram, CDC,
  * sign, IVF-PQ, BM25, line, card, edge and weighted edge. An ops
  * object declares its family once ([[Family]]) and supplies only its
  * row derivation; the kernel owns everything else:
  *
  *   - the declaration: the family's tables ([[Table]] — directory,
  *     `pmod` prefix partition, sort columns, file count), its meta
  *     fields, its [[Manifest]] kind and one N-way [[Reconcile]] rule
  *     per table;
  *   - ONE meta reader ([[readMeta]]: a missing meta, a missing field
  *     or an empty manifest fails by name — never a silent default)
  *     and ONE meta writer ([[writeMeta]]);
  *   - [[write]] (the build), the in-place O(delta) [[fold]] (each
  *     table's delta rows land as their own sorted run via
  *     [[graft.jobs.Sinks.layoutAppend]], then the meta commits; it
  *     returns the post-fold layer count, or None for a replayed tag),
  *     [[foldTo]] (compaction over the committed runs PLUS the delta's
  *     run into a fresh directory), [[compact]] and [[maintain]];
  *   - the committed and reconciled [[read]] behind every probe and
  *     every streaming gate's snapshot.
  *
  * Each table's layout is sized from the bytes it is about to hold (the
  * optimized plan's `stats.sizeInBytes`), never finer than one scan
  * split (`spark.sql.files.maxPartitionBytes`): a directory or file
  * smaller than a split saves a probe no I/O and only adds file
  * overhead. A build ([[write]]) and every compaction ([[compact]],
  * [[foldTo]], [[maintain]]'s swap) set `prefix_partitions =
  * clamp(ceil(bytes / split), 1, prefixCap)` over the family's largest
  * prefixed table ([[Family.prefixCap]]), so compaction re-sizes: a
  * grown index gains prefixes and an over-split one shrinks to fit. An
  * in-place [[fold]] keeps the meta's count, since its run lands
  * beside the committed ones. Every table and appended run is written
  * as `clamp(ceil(bytes / split), 1, numFiles)` range files
  * ([[Table.numFiles]] is the cap). A table of at least cap × split
  * bytes gets exactly the declared layout (64 prefixes × 8 files for
  * minhash).
  *
  * The two-source rule: a family derives its corpus tables in ONE
  * place, the row derivation its write and fold persist; every probe
  * reads them through a [[Corpus]] — that derivation over a corpus
  * frame in memory (`*Against`, gates authored from a frame) or [[read]]
  * with prefix pruning over an index (`*AgainstIndex`, gates authored
  * from a path) — with one probe body and one verify per family in
  * between. Only write and fold pin storage ([[pinned]]).
  *
  * Reconcile-at-read == reconcile-at-compact: both apply the same
  * per-table rule, so probes are identical before and after a
  * compaction, and fold==rebuild holds by the rule's arithmetic
  * (capped buckets with tombstones, additive or signed sums, set
  * union with tombstones, rebake-from-postings for BM25).
  *
  * Crash ordering is per manifest kind. [[Manifest.Layers]] families
  * append, then bump `layers` — except the edge family
  * ([[Family.metaFirst]]), whose set-union reconcile makes a bumped
  * count with a missing or partial run harmless, so it bumps first.
  * The SUM families cannot use either order (a partial run corrupts
  * totals), so every run they append carries a fresh `__run` id that
  * only the meta's `committed_runs` makes visible
  * ([[Manifest.Runs]]): a crash between append and commit leaves
  * orphan rows no read sees, a retry mints a new id, and compaction
  * drops the orphan bytes. Families maintained FROM a stream add the
  * logical `committed_tags` manifest ([[Manifest.RunsTags]]): a tagged
  * fold whose tag is listed is a no-op (foreachBatch re-delivers a
  * failed micro-batch), and compaction preserves the tags. IVF-PQ
  * ([[Manifest.Sidecar]]) never rewrites `meta` on a fold — the
  * frozen-codebook contract that makes fold-while-serving safe
  * ([[VectorOps.ivfPqProbeEachBatch]] caches the model) — so its run
  * count lives in a `runs` sidecar no probe reads.
  *
  * Compaction-in-place mechanics: compaction needs a fresh output
  * directory (it reads the old index lazily while writing the new
  * one), so the swap goes through two siblings — compact to
  * `<index>__compacting`, rename the live index to `<index>__old`,
  * rename the fresh one into place, delete the old. Directory rename
  * is a metadata op on HDFS-like filesystems; on a pure object store
  * the same swap is a manifest flip in a transactional table layout,
  * out of scope here. Crash consistency is single-writer,
  * restore-on-failure: every `maintain*` entry point runs inside
  * [[withWriterLock]] and calls [[recoverAtEntry]] FIRST (before its
  * fold) — a missing live path with an `__old` sibling restores
  * `__old` into place, and stale `__compacting`/`__old` siblings are
  * deleted unconditionally.
  *
  * READER CONTRACT: the swap is NOT reader-safe. A probe running
  * concurrently sees a briefly-absent path between the renames, and a
  * probe that listed files pre-swap can hit deleted files after the
  * old copy is removed. Quiesce probes across any maintain* call that
  * may compact, or gate the call behind the serving layer's lock —
  * deliberately WEAKER than the plain IVF-PQ fold, which never
  * rewrites meta and never deletes files.
  */
object IndexMaintenance {

  // ---- the family declaration ----------------------------------------

  /** How a family records which appended runs are applied. */
  sealed trait Manifest
  object Manifest {
    /** `layers` in meta; every appended run is visible. */
    case object Layers extends Manifest
    /** `layers` + `committed_runs`: rows carry `__run`, reads keep only
      * committed runs. */
    case object Runs extends Manifest
    /** [[Runs]] + the logical `committed_tags` manifest (exactly-once
      * streaming folds). */
    case object RunsTags extends Manifest
    /** `meta` is written once; `layers` lives in a `runs` sidecar. */
    case object Sidecar extends Manifest
  }

  /** The N-way reconcile rule of one table: how its layered runs read
    * as one, at probe time and at compaction alike. */
  sealed trait Reconcile
  object Reconcile {
    /** Per-row tables over disjoint ids: the union of runs IS the
      * table. */
    case object Disjoint extends Reconcile
    /** Set union (distinct), minus the rows of the `minus` tombstone
      * table when one is named. */
    final case class SetUnion(minus: Option[String] = None) extends Reconcile
    /** Capped (band, bkey, `__cs`) buckets with null-list tombstones,
      * capped at the meta's `max_bucket` ([[DedupOps.mergeLayeredBuckets]]). */
    case object Capped extends Reconcile
    /** Additive (or signed) sums per key; `netPositive` drops keys whose
      * first sum is <= 0 (the delete path of signed removal runs). */
    final case class Summed(keys: Seq[String], sums: Seq[String],
        netPositive: Boolean = false) extends Reconcile
    /** Never appended: derived from the reconciled `from` table and the
      * meta at build and compaction, and at probe time while layered
      * (BM25's contributions from its postings). */
    final case class Rebake(from: String, derive: (DataFrame, Meta) => DataFrame)
      extends Reconcile
    /** A tombstone table: plain single-file appends, emptied by
      * compaction (the removal becomes durable in the table it names). */
    case object Tombstones extends Reconcile
  }

  /** One persisted table: `$index/$dir`, range-laid-out by
    * `partitionBy ++ sortCols` into at most `numFiles` files (one per
    * scan split of its bytes). `prefix` names a
    * partition column the kernel derives as `pmod(key, prefix_partitions)`
    * on write and drops on read (directory-level probe pruning);
    * `partitionCols` are data columns partitioned as they are.
    * `optional` tables exist only when the build wrote them. */
  final case class Table(dir: String, sortCols: Seq[String], numFiles: Int,
      reconcile: Reconcile = Reconcile.Disjoint,
      prefix: Option[(String, Column)] = None,
      partitionCols: Seq[String] = Nil, optional: Boolean = false) {
    def partitionBy: Seq[String] = prefix.map(_._1).toSeq ++ partitionCols
  }

  /** A persisted index family: its required meta fields (in on-disk
    * order, manifest fields excluded), what they carry (named in
    * errors), its manifest kind, and its tables — a function of the
    * meta, since a family's geometry may size them. A family whose
    * meta carries `prefix_partitions` gets it from the kernel, sized
    * from its data and capped at `prefixCap`. */
  final case class Family(name: String, writer: String,
      metaFields: Seq[String], carries: String, manifest: Manifest,
      tables: Meta => Seq[Table], metaFirst: Boolean = false,
      prefixCap: Int = 64)

  /** One index's meta row, fields in on-disk order. */
  final case class Meta(fields: Seq[(String, Any)]) {
    def apply(name: String): Any = fields.collectFirst {
      case (`name`, v) => v
    }.getOrElse(throw new NoSuchElementException(s"meta field $name"))
    def int(name: String): Int = apply(name).asInstanceOf[Number].intValue()
    def long(name: String): Long = apply(name).asInstanceOf[Number].longValue()
    def doubles(name: String): Array[Double] =
      apply(name).asInstanceOf[Seq[Any]].map(_.asInstanceOf[Double]).toArray
    def strings(name: String): Seq[String] =
      apply(name).asInstanceOf[Seq[Any]].map(_.asInstanceOf[String])
    def layers: Int = int("layers")
    def runs: Seq[String] = strings("committed_runs")
    def tags: Seq[String] = strings("committed_tags")
    /** Replace fields in place; unknown names append. */
    def set(kvs: (String, Any)*): Meta = Meta(
      fields.map { case (k, v) => k -> kvs.find(_._1 == k).fold(v)(_._2) } ++
        kvs.filterNot(kv => fields.exists(_._1 == kv._1)))
  }

  /** One fold's (or build's) rows per table directory — without prefix
    * or `__run` columns, which the kernel stamps — plus the meta fields
    * the fold changes besides the manifest (BM25's corpus stats). */
  final class Delta(val rows: Seq[(String, DataFrame)],
      val meta: Seq[(String, Any)] = Nil) {
    def withMeta(kvs: (String, Any)*): Delta = new Delta(rows, meta ++ kvs)
  }
  object Delta {
    def apply(rows: (String, DataFrame)*): Delta = new Delta(rows)
  }

  /** Compact once layer count reaches this many appended runs.
    * 8 runs ≈ a week of daily folds; read-side reconcile cost and
    * file-open fan-out both scale with the run count, so the
    * threshold bounds probe overhead at ~8× one run's files while
    * keeping compaction (O(index) read+write) amortized to
    * 1/threshold of the fold cadence.
    */
  val DefaultCompactThreshold = 8

  // ---- meta: one reader, one writer -----------------------------------

  private def manifestFields(m: Manifest): Seq[String] = m match {
    case Manifest.Layers => Seq("layers")
    case Manifest.Runs => Seq("layers", "committed_runs")
    case Manifest.RunsTags =>
      Seq("layers", "committed_runs", "committed_tags")
    case Manifest.Sidecar => Nil
  }

  private def hasRuns(m: Manifest): Boolean =
    m == Manifest.Runs || m == Manifest.RunsTags

  /** `$index/$file` (`meta`, or IVF-PQ's `runs` sidecar) as a [[Meta]].
    * Every required field is checked by name: an unreadable file fails
    * with an [[IllegalStateException]] naming its path, a missing field
    * with an [[IllegalArgumentException]] naming the field and the
    * rebuild — there is no defaulted field and no degraded mode.
    */
  def readMeta(s: SparkSession, indexPath: String, fam: Family, op: String,
      file: String = "meta"): Meta = {
    val at = s"$indexPath/$file"
    val df =
      try s.read.parquet(at)
      catch {
        case e: Exception => throw new IllegalStateException(
          s"$op: cannot read $at — the ${fam.name} index is missing or " +
            s"partially copied; its $file carries the ${fam.carries}, " +
            "so there is no safe default", e)
      }
    val required =
      if (file == "meta") fam.metaFields ++ manifestFields(fam.manifest)
      else Seq("layers")
    val missing = required.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"$op: $at lacks ${missing.mkString(", ")} — rebuild the " +
        s"${fam.name} index once with the current ${fam.writer}: an index " +
        s"written before its ${fam.carries} lived in meta cannot be " +
        "folded or probed safely")
    val row = df.head(1).headOption.getOrElse(
      throw new IllegalStateException(s"$op: $at is empty"))
    val m = Meta(df.columns.toSeq.map(c => c -> (row.getAs[Any](c) match {
      case xs: scala.collection.Seq[_] => xs.toSeq
      case v => v
    })))
    if (file == "meta" && hasRuns(fam.manifest))
      require(m.runs.nonEmpty, s"$op: $at has an empty run manifest")
    m
  }

  /** Overwrite `$index/$file` with one row holding `meta`'s fields. */
  def writeMeta(s: SparkSession, indexPath: String, meta: Meta,
      file: String = "meta"): Unit =
    s.range(1)
      .select(meta.fields.map { case (k, v) => metaLit(v).as(k) }: _*)
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/$file")

  private def metaLit(v: Any): Column = v match {
    case xs: Seq[_] if xs.isEmpty => array().cast("array<string>")
    case xs: Seq[_] if xs.head.isInstanceOf[String] =>
      array(xs.map(lit): _*)
    case xs: Seq[_] => typedLit(xs.map(_.asInstanceOf[Double]))
    case x => lit(x)
  }

  /** The manifest after one commit: `layers`, the committed run list
    * and the tag list, per the family's manifest kind. */
  private def committedMeta(fam: Family, m: Meta, layers: Int,
      runs: Seq[String], tags: Seq[String]): Meta = fam.manifest match {
    case Manifest.Layers => m.set("layers" -> layers)
    case Manifest.Runs =>
      m.set("layers" -> layers, "committed_runs" -> runs)
    case Manifest.RunsTags => m.set("layers" -> layers,
      "committed_runs" -> runs, "committed_tags" -> tags)
    case Manifest.Sidecar => m
  }

  private def commit(s: SparkSession, indexPath: String, fam: Family,
      m: Meta, layers: Int, rewriteMeta: Boolean): Unit =
    if (fam.manifest == Manifest.Sidecar) {
      if (rewriteMeta) writeMeta(s, indexPath, m)
      writeMeta(s, indexPath, Meta(Seq("layers" -> layers)), "runs")
    } else writeMeta(s, indexPath, m)

  private def layersOf(s: SparkSession, indexPath: String, fam: Family,
      m: Meta, op: String): Int =
    if (fam.manifest == Manifest.Sidecar)
      readMeta(s, indexPath, fam, op, "runs").layers
    else m.layers

  /** A fresh run id for one appended file set. */
  private def newRunId(): String = java.util.UUID.randomUUID().toString

  /** Keep only committed rows and drop the manifest column. */
  def committedOnly(df: DataFrame, runs: Seq[String]): DataFrame =
    df.filter(col("__run").isin(runs: _*)).drop("__run")

  // ---- write / fold / foldTo / compact / maintain ----------------------

  /** Build an index at `path`: `geometry` (the family's meta fields, in
    * order, without `prefix_partitions`, which the kernel sizes from the
    * rows) plus a one-run manifest; the rows derive against that meta.
    * Tables a [[Reconcile.Rebake]] derives need no rows. */
  def write(s: SparkSession, path: String, fam: Family,
      geometry: (String, Any)*)(rows: Meta => Delta): Unit = {
    val run = newRunId()
    val given = Meta(geometry)
    val frames = rows(given).rows.toMap
    val m = committedMeta(fam, sized(fam, given, frames), 1, Seq(run), Nil)
    lay(s, path, fam, m, run, frames)
    commit(s, path, fam, m, 1, rewriteMeta = true)
  }

  /** The in-place O(delta) fold: the delta's rows append as their own
    * sorted run per table, then the meta commits (before the appends
    * for a [[Family.metaFirst]] family). Returns the post-fold layer
    * count, or None when `tag` is already committed (a replay: nothing
    * is written). */
  def fold(s: SparkSession, indexPath: String, fam: Family, op: String,
      tag: Option[String] = None)(rows: Meta => Delta): Option[Int] = {
    val m = readMeta(s, indexPath, fam, op)
    if (tag.exists(t => m.tags.contains(t))) None
    else {
      val layers = layersOf(s, indexPath, fam, m, op) + 1
      val run = newRunId()
      val d = rows(m)
      val next = committedMeta(fam, m.set(d.meta: _*), layers,
        if (hasRuns(fam.manifest)) m.runs :+ run else Nil,
        if (fam.manifest == Manifest.RunsTags) m.tags ++ tag else Nil)
      if (fam.metaFirst) commit(s, indexPath, fam, next, layers, false)
      val tables = fam.tables(m)
      Par.run(d.rows.flatMap { case (dir, df) =>
        val t = table(fam, tables, dir)
        if (t.optional && !exists(s, s"$indexPath/$dir")) None
        else Some(() => put(s"$indexPath/$dir", t, stamp(df, t, fam, m, run),
          append = true))
      }: _*)
      if (!fam.metaFirst) commit(s, indexPath, fam, next, layers, false)
      Some(layers)
    }
  }

  /** Fold-and-compact into a FRESH single-run index at `outPath`: the
    * compaction of the committed runs plus the delta's run — O(index)
    * read and write, the old index untouched (the atomic form). */
  def foldTo(s: SparkSession, indexPath: String, outPath: String,
      fam: Family, op: String)(rows: Meta => Delta): Unit = {
    require(indexPath != outPath, s"$op: outPath must differ from " +
      "indexPath (the merge reads the old index lazily while writing " +
      "the new one)")
    val m = readMeta(s, indexPath, fam, op)
    val d = rows(m)
    rewrite(s, indexPath, outPath, fam, m.set(d.meta: _*), d.rows.toMap, op)
  }

  /** Compact a layered index into ONE run per table at `outPath`: each
    * table's committed runs reconciled by its rule (orphan rows of
    * crashed folds dropped from disk), prefixes re-sized to the
    * reconciled bytes, layers reset to 1, tags kept. */
  def compact(s: SparkSession, indexPath: String, outPath: String,
      fam: Family, op: String): Unit = {
    require(indexPath != outPath, s"$op: outPath must differ from indexPath")
    rewrite(s, indexPath, outPath, fam, readMeta(s, indexPath, fam, op),
      Map.empty, op)
  }

  private def rewrite(s: SparkSession, indexPath: String, outPath: String,
      fam: Family, m: Meta, delta: Map[String, DataFrame], op: String): Unit = {
    val run = newRunId()
    val tables = fam.tables(m)
    def input(t: Table): DataFrame = {
      val old = committed(s, indexPath, fam, m, t, op, None)
      delta.get(t.dir).fold(old)(d => old.unionByName(d))
    }
    val frames = tables.collect {
      case t if !t.reconcile.isInstanceOf[Reconcile.Rebake] &&
          (!t.optional || exists(s, s"$indexPath/${t.dir}")) =>
        t.dir -> reconcile(t, input(t), m,
          d => committed(s, indexPath, fam, m, table(fam, tables, d), op, None))
    }.toMap
    val out = committedMeta(fam, sized(fam, m, frames), 1, Seq(run),
      if (fam.manifest == Manifest.RunsTags) m.tags else Nil)
    lay(s, outPath, fam, out, run, frames)
    commit(s, outPath, fam, out, 1, rewriteMeta = true)
  }

  private val PrefixField = "prefix_partitions"

  /** `m` with `prefix_partitions` (at its [[Family.metaFields]]
    * position) sized over the family's largest prefixed table in
    * `frames` — one prefix per scan split, at most
    * [[Family.prefixCap]]; unchanged for a family without the field. */
  private def sized(fam: Family, m: Meta, frames: Map[String, DataFrame]): Meta =
    if (!fam.metaFields.contains(PrefixField)) m
    else {
      val n = fam.tables(m).filter(_.prefix.isDefined)
        .flatMap(t => frames.get(t.dir)).map(splits(_, fam.prefixCap))
        .maxOption.getOrElse(1)
      Meta(fam.metaFields.map(f => f -> (if (f == PrefixField) n else m(f))) ++
        m.fields.filterNot(kv => fam.metaFields.contains(kv._1)))
    }

  /** `clamp(ceil(bytes / split), 1, cap)`: the scan splits of `df`'s
    * estimated bytes (the optimized plan's statistics — no job runs). */
  private def splits(df: DataFrame, cap: Int): Int = {
    val split = BigInt(df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    ((bytes + split - 1) / split).max(1).min(cap).toInt
  }

  /** Lay out one complete table set at `path` — [[Reconcile.Rebake]]
    * tables derived from their (materialized-once) source. */
  private def lay(s: SparkSession, path: String, fam: Family, m: Meta,
      run: String, frames: Map[String, DataFrame]): Unit = {
    val tables = fam.tables(m)
    val rebakes = tables.collect {
      case t @ Table(_, _, _, Reconcile.Rebake(from, derive), _, _, _) =>
        (t.dir, from, derive)
    }
    // a rebake source feeds two writes: compute it once
    val shared = rebakes.map(_._2).distinct
      .map(d => d -> frames(d).localCheckpoint()).toMap
    try {
      val all = frames ++ shared ++ rebakes.map { case (dir, from, derive) =>
        dir -> derive(shared(from), m)
      }
      Par.run(all.toSeq.map { case (dir, df) =>
        val t = table(fam, tables, dir)
        () => put(s"$path/$dir", t, stamp(df, t, fam, m, run), append = false)
      }: _*)
    } finally shared.values.foreach(Lifecycle.releaseLocalCheckpoint)
  }

  /** The maintenance policy as one call: crash-recover at entry, fold
    * in place, then compact-and-swap iff the post-fold layer count has
    * reached `threshold` — all inside the writer lock. Some(compacted),
    * or None when the tag was a replay (no fold, no compaction: a no-op
    * must be a no-op). */
  def maintain(s: SparkSession, indexPath: String, fam: Family, op: String,
      threshold: Int, tag: Option[String] = None)(
      rows: Meta => Delta): Option[Boolean] =
    locked(s, indexPath) {
      fold(s, indexPath, fam, op, tag)(rows).map(layers =>
        compactIfLayered(s, indexPath, layers, threshold)(
          compact(s, indexPath, _, fam, op)))
    }

  /** A maintain*-class mutation: [[withWriterLock]] + [[recoverAtEntry]]. */
  def locked[T](s: SparkSession, indexPath: String)(body: => T): T =
    withWriterLock(s, indexPath) {
      recoverAtEntry(s, indexPath)
      body
    }

  // ---- reads -----------------------------------------------------------

  /** Table `dir` of a committed index: rows of committed runs only,
    * pruned to the `prune` prefixes, prefix column dropped, and — when
    * `reconciled` and the index is layered — read as one run through
    * the table's rule (a [[Reconcile.Rebake]] table rebakes from its
    * source; set-union tombstones apply at any layer count). */
  def read(s: SparkSession, indexPath: String, fam: Family, m: Meta,
      dir: String, op: String, prune: Option[Seq[Int]] = None,
      reconciled: Boolean = true): DataFrame = {
    val t = table(fam, fam.tables(m), dir)
    val layered = reconciled && m.layers > 1
    def other(d: String) =
      read(s, indexPath, fam, m, d, op, prune, reconciled)
    lazy val rows = committed(s, indexPath, fam, m, t, op, prune)
    t.reconcile match {
      case Reconcile.Rebake(from, derive) if layered => derive(other(from), m)
      case Reconcile.Tombstones => rows
      case Reconcile.SetUnion(Some(minus)) if reconciled && !layered =>
        rows.join(other(minus), rows.columns.toSeq, "left_anti")
      case _ if layered => reconcile(t, rows, m, other)
      case _ => rows
    }
  }

  /** The distinct `pmod(key, prefix_partitions)` prefixes of a probe's
    * keys — at most prefix_partitions ints, collected driver-side as a
    * partition-pruning list (Int literals: the read-back partition
    * column infers as int, and a cast on it would defeat pruning). A
    * one-prefix index has the one prefix 0, known without a job. */
  def prefixesOf(keys: DataFrame, key: Column, m: Meta): Seq[Int] =
    if (m.int(PrefixField) == 1) Seq(0)
    else keys.select(pmod(key, lit(m.int(PrefixField).toLong)))
      .distinct().collect().map(_.getLong(0).toInt).toSeq

  /** A family's corpus tables as its one probe body reads them (the
    * two-source rule above). `pruned(dir, keys, key)`: an index prunes
    * its prefix directories to the `keys`' prefixes ([[prefixesOf]],
    * one collect job, none for a one-prefix index); a derived table
    * returns whole, so an inline
    * probe adds no job. The meta is read on first use. */
  final class Corpus private (meta0: => Meta,
      tableOf: (String, Option[(DataFrame, Column)]) => DataFrame) {
    lazy val meta: Meta = meta0
    def apply(dir: String): DataFrame = tableOf(dir, None)
    def pruned(dir: String, keys: DataFrame, key: Column): DataFrame =
      tableOf(dir, Some(keys -> key))
  }
  object Corpus {
    /** `rows` over a corpus frame, with the caller's parameters as the
      * `geometry` meta fields — nothing is pinned and no job runs. */
    def derived(geometry: (String, Any)*)(rows: Meta => Delta): Corpus = {
      val m = Meta(geometry)
      lazy val tables = rows(m).rows.toMap
      new Corpus(m, (dir, _) => tables(dir))
    }
    /** The committed [[read]] of the index at `indexPath`, geometry off
      * its meta. `reconciled = false` skips the layered reconcile for a
      * probe that is insensitive to duplicate rows. */
    def indexed(s: SparkSession, indexPath: String, fam: Family,
        op: String, reconciled: Boolean = true): Corpus = {
      lazy val m = readMeta(s, indexPath, fam, op)
      new Corpus(m, (dir, keys) => read(s, indexPath, fam, m, dir, op,
        keys.map { case (k, c) => prefixesOf(k, c, m) }, reconciled))
    }
  }

  /** `rows` over `df` persisted for the duration of `go` — the
    * build/fold side's discipline when several tables (or an expensive
    * upstream lineage) consume one derivation. Probes never pin. */
  def pinned[T](df: DataFrame, rows: DataFrame => Meta => Delta)(
      go: (Meta => Delta) => T): T = {
    val p = df.persist()
    try go(rows(p)) finally { p.unpersist(); () }
  }

  private def table(fam: Family, tables: Seq[Table], dir: String): Table =
    tables.find(_.dir == dir).getOrElse(throw new IllegalArgumentException(
      s"${fam.name} index has no table '$dir'"))

  private def committed(s: SparkSession, indexPath: String, fam: Family,
      m: Meta, t: Table, op: String, prune: Option[Seq[Int]]): DataFrame = {
    val at = s"$indexPath/${t.dir}"
    val raw =
      try s.read.parquet(at)
      catch {
        case e: Exception => throw new IllegalStateException(
          s"$op: cannot read $at — a ${fam.name} index written before " +
            "this table existed must be rebuilt once", e)
      }
    val rows = (t.prefix, prune) match {
      case (Some((p, _)), Some(ps)) => raw.filter(col(p).isin(ps: _*)).drop(p)
      case (Some((p, _)), None) => raw.drop(p)
      case _ => raw
    }
    if (hasRuns(fam.manifest) && t.reconcile != Reconcile.Tombstones)
      committedOnly(rows, m.runs)
    else rows
  }

  private def reconcile(t: Table, df: DataFrame, m: Meta,
      other: String => DataFrame): DataFrame = t.reconcile match {
    case Reconcile.Disjoint => df
    case Reconcile.SetUnion(minus) =>
      minus.fold(df.distinct())(d =>
        df.distinct().join(other(d), df.columns.toSeq, "left_anti"))
    case Reconcile.Capped => DedupOps.mergeLayeredBuckets(df, m.int("max_bucket"))
    case Reconcile.Summed(keys, sums, netPositive) =>
      val agg = df.groupBy(keys.map(col): _*)
        .agg(sum(col(sums.head)).as(sums.head),
          sums.tail.map(c => sum(col(c)).as(c)): _*)
      if (netPositive) agg.filter(col(sums.head) > 0) else agg
    case Reconcile.Tombstones => df.limit(0)
    case Reconcile.Rebake(from, derive) => derive(other(from), m)
  }

  /** The kernel-owned columns: the prefix partition and the run id. */
  private def stamp(df: DataFrame, t: Table, fam: Family, m: Meta,
      run: String): DataFrame = {
    val prefixed = t.prefix.fold(df) { case (p, key) =>
      df.withColumn(p, pmod(key, lit(m.int(PrefixField).toLong)))
    }
    if (hasRuns(fam.manifest) && t.reconcile != Reconcile.Tombstones)
      prefixed.withColumn("__run", lit(run))
    else prefixed
  }

  private def put(path: String, t: Table, df: DataFrame,
      append: Boolean): Unit = t.reconcile match {
    case Reconcile.Tombstones =>
      df.coalesce(1).write.mode(if (append) "append" else "overwrite")
        .parquet(path)
    case _ if append => graft.jobs.Sinks.layoutAppend(df, path,
      t.partitionBy, t.sortCols, splits(df, t.numFiles))
    case _ => graft.jobs.Sinks.layout(df, path, t.partitionBy, t.sortCols,
      splits(df, t.numFiles))
  }

  private def exists(s: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  // ---- single-writer safety --------------------------------------------

  /** Best-effort single-writer guard wrapping every maintain* entry
    * point: atomically creates `<index>__writer.lock`
    * (FileSystem.createNewFile) and deletes it when the body
    * completes or throws. A second concurrent maintain on the same
    * path fails BY NAME here instead of racing [[recoverAtEntry]]'s
    * unconditional sibling cleanup into the first writer's in-flight
    * `__compacting` directory mid-compact (the silent-corruption
    * shape ADVICE r12 flagged). Best-effort by design: createNewFile
    * is atomic on HDFS-like filesystems and the local FS (object
    * stores would want a conditional-put manifest instead — same
    * position as the rename-swap contract above), and a hard crash
    * strands the lock, so the error message names the exact file to
    * delete once the operator confirms no maintain is live. The
    * documented single-writer contract still governs; the lock turns
    * concurrent-maintain misuse from corruption into a loud failure.
    */
  def withWriterLock[T](s: SparkSession, indexPath: String)(body: => T): T = {
    val fs = new Path(indexPath).getFileSystem(
      s.sparkContext.hadoopConfiguration)
    val live = fs.makeQualified(new Path(indexPath))
    val lock = new Path(live.getParent, live.getName + "__writer.lock")
    // Only "lock already exists" means a concurrent writer; any OTHER
    // IOException is a real filesystem fault and must surface as
    // itself, not as a misleading "another maintain* appears to be
    // running" (ADVICE r13). createNewFile signals existence either by
    // returning false or by FileAlreadyExistsException, FS-dependent.
    val acquired =
      try fs.createNewFile(lock)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    if (!acquired) throw new IllegalStateException(
      s"withWriterLock: another maintain* appears to be running on " +
        s"$live (lock file $lock exists) — maintain* is single-writer " +
        "per index. If the previous writer crashed, delete the lock " +
        "file and re-run; recoverAtEntry will repair any half-finished " +
        "swap.")
    try body finally fs.delete(lock, false)
  }

  /** Crash recovery, run by every maintain* entry point BEFORE its
    * fold (inside [[withWriterLock]]): restore `__old` into place
    * when the live path is absent (a crash landed between the swap's
    * two renames), then delete stale `__compacting`/`__old` siblings
    * unconditionally (a crashed attempt's full-index copy must not
    * linger while folds stay under the compaction threshold).
    * Idempotent; no-op on a healthy index. The unconditional sibling
    * cleanup is what makes this single-writer-only — hence the lock.
    */
  def recoverAtEntry(s: SparkSession, indexPath: String): Unit = {
    val fs = new Path(indexPath).getFileSystem(
      s.sparkContext.hadoopConfiguration)
    val live = fs.makeQualified(new Path(indexPath))
    val fresh = new Path(live.getParent, live.getName + "__compacting")
    val old = new Path(live.getParent, live.getName + "__old")
    if (!fs.exists(live) && fs.exists(old) && !fs.rename(old, live))
      throw new IllegalStateException(
        s"recoverAtEntry: live index $live is absent (crashed swap) and " +
          s"restoring $old into place failed — manual restore required")
    fs.delete(fresh, true)
    fs.delete(old, true)
    ()
  }

  /** Run `compactTo(freshDir)` and swap the result into `indexPath`
    * iff `layers >= threshold`. Returns true when a compaction ran.
    * NOT reader-safe — see the object Scaladoc's reader contract.
    */
  def compactIfLayered(s: SparkSession, indexPath: String, layers: Int,
      threshold: Int)(compactTo: String => Unit): Boolean = {
    require(threshold >= 2,
      s"compactIfLayered: threshold $threshold would compact on every " +
        "fold — use the fold-and-compact to-outPath overloads for that " +
        "cost class")
    if (layers < threshold) false
    else {
      val fs = new Path(indexPath).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      val live = fs.makeQualified(new Path(indexPath))
      val fresh = new Path(live.getParent, live.getName + "__compacting")
      val old = new Path(live.getParent, live.getName + "__old")
      // leftovers from a crashed previous attempt
      fs.delete(fresh, true)
      fs.delete(old, true)
      compactTo(fresh.toString)
      if (!fs.rename(live, old)) throw new IllegalStateException(
        s"compactIfLayered: cannot move live index $live aside to $old")
      if (!fs.rename(fresh, live)) {
        fs.rename(old, live) // restore — the fresh copy stays for triage
        throw new IllegalStateException(
          s"compactIfLayered: cannot move compacted index $fresh into " +
            s"place at $live — live index restored, fresh copy kept")
      }
      fs.delete(old, true)
      true
    }
  }
}
