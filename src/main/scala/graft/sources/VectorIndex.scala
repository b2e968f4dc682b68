package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import IndexStore.{Band, Table}

/** Shared parquet-directory machinery for prebuilt ANN index stores — the
  * offline half of the production architecture (build once, search many).
  * Tables swap in atomically ([[TableStore]]'s write-temp + two-rename
  * discipline, crash-recoverable); the build fingerprint (`_meta`) lands
  * LAST, so a freshness probe can only see it once every byte it vouches
  * for is durable.
  *
  * Large tables are PHYSICALLY PARTITIONED (`<table>/<col>=<n>/` dirs) so
  * incremental maintenance rewrites only the partitions a batch touches —
  * the production layout: an ingest/delete over a 100 TB index must cost
  * ∝ touched cells, not ∝ corpus. Partition maintenance writes every
  * replacement partition in ONE job into a dot-prefixed temp dir
  * (invisible to Spark's file listing), then swaps each partition with
  * the same two-rename discipline; a crash mid-swap leaves `.old-*`
  * markers that [[recoverPartitions]] restores, and every maintenance op
  * is keyed + idempotent, so a retry after a partial swap converges.
  *
  * A store is DATA: its [[Table]] descriptors ([[tables]]) and its token
  * [[ledger]]. The maintenance lifecycle — [[writeIndex]], [[upsert]],
  * [[append]], [[compact]], [[delete]] — is written once here and runs
  * over those descriptors; the stores ([[VectorIndex]], [[TextIndex]],
  * [[PqIndex]]) keep only schemas, descriptors, read accessors and typed
  * entry points mapping their input frames onto their tables. */
private[sources] abstract class IndexStore(spark: SparkSession,
                                           root: String,
                                           val nBands: Int) {

  /** This store's tables, in the order their build writes start (the
    * first runs on the calling thread); the banded ones take
    * maintenance. */
  protected def tables: Seq[Table]

  /** The table and row filter whose `fp` column feeds the covered-corpus
    * token: one row per covered corpus item. Its batch rows' ids are also
    * the eviction keys of a keyed [[upsert]]. */
  protected def ledger: (Table, Column)

  private def banded = tables.filter(_.band.isDefined)

  private def path(table: String) = s"$root/$table"
  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The band count an EXISTING partitioned table was built with, read
    * from its `_layout` marker ([[swapIn]] writes the marker into the
    * temp dir, so it rides the same atomic rename as the data).
    * Maintenance ops derive their partition arithmetic from THIS value,
    * never the constructor's [[nBands]]: raising the count for a bigger
    * deployment must not silently fragment an index built at the old
    * count — new BUILDS pick up the new count; existing layouts keep
    * their own until rebuilt. Pre-marker indexes fall back to [[nBands]]
    * (their fingerprints rebuild-gate them anyway on the next ensure). */
  private def liveBands(t: Table): Int = {
    val m = new Path(s"${path(t.name)}/_layout")
    if (!fs.exists(m)) nBands
    else {
      val in = fs.open(m)
      val s = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      require(s.startsWith("bands="),
        s"unreadable layout marker $m: '$s'")
      s.stripPrefix("bands=").trim.toInt
    }
  }

  /** [[TableStore.recoverSwap]]'s contract, restated for the index dirs:
    * a kill between the two renames leaves the table absent with the
    * complete pre-swap copy in `.old-*` — restore it; leftover tmp/old
    * dirs from post-swap crashes are garbage — swept. */
  private def recoverSwap(table: String): Unit = {
    val glob = fs.globStatus(new Path(path(table) + ".{old,tmp}-*"))
    if (glob == null || glob.isEmpty) return
    if (!fs.exists(new Path(path(table)))) {
      val olds = glob.filter(_.getPath.getName.contains(".old-"))
      if (olds.nonEmpty)
        require(fs.rename(olds.head.getPath, new Path(path(table))),
          s"recoverSwap($table): restoring ${olds.head.getPath} failed")
    }
    fs.globStatus(new Path(path(table) + ".{old,tmp}-*"))
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** `t`'s on-disk schema: a banded table carries its band column. */
  private def fullSchema(t: Table): StructType =
    t.band.fold(t.schema)(b =>
      StructType(t.schema.fields :+ StructField(b.col, IntegerType)))

  private def cast(t: Table, df: DataFrame): DataFrame =
    df.select(fullSchema(t).fields.toIndexedSeq
      .map(f => col(f.name).cast(f.dataType)): _*)

  private def swapIn(t: Table, df: DataFrame): Unit = {
    val dest = new Path(path(t.name))
    val tmp = new Path(path(t.name) + ".tmp-" + java.util.UUID.randomUUID())
    val w = cast(t, df).write.mode("errorifexists")
    t.band.fold(w)(b => w.partitionBy(b.col)).parquet(tmp.toString)
    // the layout marker rides the data's atomic rename, so _layout can
    // never disagree with the dirs beside it (underscore names are
    // invisible to Spark's file listing)
    if (t.band.isDefined) {
      val outS = fs.create(new Path(tmp, "_layout"), true)
      try outS.write(s"bands=$nBands".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally outS.close()
    }
    val old = new Path(path(t.name) + ".old-" + java.util.UUID.randomUUID())
    // Hadoop rename reports failure by returning false — unchecked, a
    // failed rename silently drops the new index version
    if (fs.exists(dest)) require(fs.rename(dest, old),
      s"swapIn(${t.name}): rename $dest -> $old failed")
    require(fs.rename(tmp, dest),
      s"swapIn(${t.name}): rename $tmp -> $dest failed — pre-swap in $old")
    fs.delete(old, true)
  }

  /** Read a whole table after crash recovery; a banded table's frame
    * carries its band column from the directory names (callers filtering
    * on it get partition pruning — only the named dirs' files are listed
    * and read). */
  private def readBanded(t: Table): DataFrame = {
    recoverCommits()
    recoverSwap(t.name)
    if (t.band.isDefined) recoverPartitions(t)
    require(fs.exists(new Path(path(t.name))),
      s"index table ${t.name} missing under $root — build the index first")
    spark.read.schema(fullSchema(t)).parquet(path(t.name))
  }

  /** A table's rows, without the band column. */
  protected def readTable(t: Table): DataFrame =
    t.band.fold(readBanded(t))(b => readBanded(t).drop(b.col))

  // ------------------------------------------------------------------
  // physically-partitioned tables

  /** Per-partition crash recovery: a kill between a partition's two
    * renames leaves `<table>/.old-<uuid>-<col>=<n>` with the live dir
    * absent — restore it; any other `.old-*`/`.tmp-*` leftovers are
    * post-swap garbage — swept. (Dot-prefixed names are invisible to
    * Spark's file listing, so even unswept leftovers can't pollute a
    * read.) */
  private def recoverPartitions(t: Table): Unit = {
    val partCol = t.band.get.col
    val glob = fs.globStatus(new Path(path(t.name) + "/.{old,tmp}-*"))
    if (glob == null) return
    glob.foreach { st =>
      val nm = st.getPath.getName
      val marker = nm.indexOf(s"-$partCol=")
      if (nm.startsWith(".old-") && marker > 0) {
        val live = new Path(path(t.name) + "/" + nm.substring(marker + 1))
        if (!fs.exists(live))
          require(fs.rename(st.getPath, live),
            s"recoverPartitions(${t.name}): restoring $nm failed")
        else fs.delete(st.getPath, true)
      } else fs.delete(st.getPath, true)
    }
  }

  /** `df`'s rows in `t`'s columns plus the band column at `n` bands. */
  private def withBand(t: Table, df: DataFrame, n: Int): DataFrame = {
    val b = t.band.get
    df.select(t.schema.fieldNames.toIndexedSeq.map(col): _*)
      .withColumn(b.col, b.of(col(b.key), n))
  }

  /** Partition-clustered, row-balanced shuffle for a partitioned-table
    * write: RANGE-partition on (band, key, spread) — every task gets a
    * contiguous, row-balanced slice, so full cluster parallelism with
    * zero hash-collision skew — then sort (band, key) within tasks.
    * Three write layouts lost A/Bs to this one: `repartition(dataKey)`
    * scatters every dir across every task (tasks-per-dir small files the
    * next maintenance read pays for); `repartition(band)` collapses to
    * nParts tasks (the 1000× text build tripled); hash on a band×subs
    * composite throws ~256 balls into 256 bins — a third of the tasks
    * empty, the loaded ones 2–3×. The spread key (member id) gives
    * ranges a high-cardinality tiebreak so even a single hot band value
    * splits across tasks; each dir still receives ~tasks/nParts
    * contiguous key-sorted files (tight min/max row-group stats for
    * probes), and the leading band sort satisfies the dynamic-partition
    * writer's ordering requirement — no extra (unstable) sort node to
    * break the key run lengths. */
  private def clustered(t: Table, df: DataFrame): DataFrame = {
    val b = t.band.get
    df.repartitionByRange(col(b.col), col(b.key), col(b.spread))
      .sortWithinPartitions(col(b.col), col(b.key))
  }

  private def inParts(t: Table, parts: Seq[Int]): Column =
    col(t.band.get.col).isin(parts.map(Integer.valueOf): _*)

  // ------------------------------------------------------------------
  // atomic multi-table append: staged files + single commit marker
  //
  // The LSM/segment discipline (batch files land INSIDE live partition
  // dirs, no existing byte read or rewritten) made ATOMIC: the batch is
  // written under a dot-stage dir (invisible to Spark's listing), then a
  // single `_commit-<uuid>` marker — carrying every file move AND the
  // post-append token verbatim — publishes with one atomic rename.
  // Before the marker lands, nothing happened (the stage is unreferenced
  // garbage, swept by the next writer); once it lands, the append is
  // guaranteed to complete — [[recoverCommits]] rolls the marker forward
  // from every read and maintenance entry point, so a crash between any
  // two file moves, or between the moves and the token publish, heals
  // into the COMMITTED state with zero self-healing rebuilds. The
  // caller-side retry contract is O(1): pass the pre-batch corpus token
  // as `expectToken` — if the crashed attempt actually committed, the
  // stored token moved on and the retry is a no-op; no per-append
  // id-presence scan over the index is needed (appends are for
  // genuinely-new ids; a re-ingest goes through the keyed upsert).

  private def markerName(uuid: String) = s"_commit-$uuid"

  /** Append `batches` (each table's banded rows) and fold `added` into the
    * covered-corpus token, atomically: one commit marker covers every
    * table's file moves and the token, so a crash can never land one
    * table's rows without the other's or the rows without the token. */
  private def atomicAppend(batches: Seq[(Table, DataFrame)],
                           added: (Long, BigInt, BigInt)): Unit = {
    recoverCommits(sweepStages = true)
    batches.foreach { case (t, _) => recoverPartitions(t) }
    val uuid = java.util.UUID.randomUUID().toString
    val stageRel = s".stage-$uuid"
    val stage = new Path(root, stageRel)
    // staged table writes overlapped on driver threads (guide §2.6):
    // each table stages under its own subdir and every input frame is
    // checkpointed batch rows, so the writes share nothing; `moves`
    // keeps the tables' declared order (the marker's move list is
    // ordered, and replay depends only on per-move idempotence)
    val staged = batches.map { case (t, df) =>
      Overlap.future {
        val partCol = t.band.get.col
        val tdir = new Path(stage, t.name)
        cast(t, df).write.mode("errorifexists").partitionBy(partCol)
          .parquet(tdir.toString)
        val parts = fs.globStatus(new Path(tdir, s"$partCol=*"))
        (if (parts == null) Array[org.apache.hadoop.fs.FileStatus]()
         else parts).toSeq.flatMap { p =>
          fs.listStatus(p.getPath).toSeq
            .filterNot { f =>
              val n = f.getPath.getName
              n.startsWith("_") || n.startsWith(".")
            }
            .map { f =>
              (s"$stageRel/${t.name}/${p.getPath.getName}/${f.getPath.getName}",
                s"${t.name}/${p.getPath.getName}/${f.getPath.getName}")
            }
        }
      }
    }
    // join EVERY staging future before propagating a failure: a
    // sequential flatMap would rethrow the first table's error while
    // later tables' daemon threads were still writing into the stage dir
    // — withLease would then release the maintenance lease with writes in
    // flight, racing the next holder's sweepStages. Joining all keeps the
    // single-writer contract on the failure path; `moves` stays in
    // declared table order.
    val joined = staged.map(f =>
      try Right(f()) catch { case e: Throwable => Left(e) })
    joined.collect { case Left(e) => e } match {
      case Seq() =>
      case errs =>
        errs.tail.foreach(errs.head.addSuppressed)
        throw errs.head
    }
    val moves = joined.collect { case Right(ms) => ms }.flatten
    IndexStore.maybeCrash("staged")
    // the post-append token is computed BEFORE the marker and recorded
    // in it VERBATIM, so recovery republishes — never re-folds (a redo
    // that re-folded would double-count the batch)
    val target = storedToken().map(foldedOf(_, added, IndexStore.NoTerms))
    writeAtomic(markerName(uuid),
      ("graft-commit-v1" +:
        s"stage=$stageRel" +:
        s"token=${target.getOrElse("-")}" +:
        moves.map { case (s, d) => s"$s\t$d" }).mkString("\n"))
    IndexStore.maybeCrash("marker")
    replayCommit(new Path(path(markerName(uuid))))
  }

  /** Roll a commit marker forward: redo its file moves (each idempotent
    * — a move whose src is gone and dest present already happened),
    * publish the recorded token, then drop the marker and its stage dir.
    * Serialized per store root within the process; cross-process
    * replayers racing on the same marker are tolerated by re-checking
    * the destination after a failed rename. */
  private def replayCommit(marker: Path): Unit =
    IndexStore.lockFor(root).synchronized {
      if (!fs.exists(marker)) return // a racing replayer finished it
      val in = fs.open(marker)
      val text = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      val lines = text.split("\n").toSeq
      require(lines.headOption.contains("graft-commit-v1"),
        s"unreadable commit marker $marker")
      val stageRel = lines.collectFirst {
        case l if l.startsWith("stage=") => l.stripPrefix("stage=") }.get
      val token = lines.collectFirst {
        case l if l.startsWith("token=") => l.stripPrefix("token=") }.get
      val moves = lines.drop(3).filter(_.nonEmpty).map { l =>
        val i = l.indexOf('\t')
        (l.substring(0, i), l.substring(i + 1))
      }
      moves.zipWithIndex.foreach { case ((src, dest), i) =>
        val s = new Path(root, src)
        val d = new Path(root, dest)
        if (fs.exists(s)) {
          if (!fs.exists(d.getParent)) fs.mkdirs(d.getParent)
          if (!fs.rename(s, d))
            // a cross-process replayer can win the rename between our
            // exists check and here; the move is done iff dest holds it
            require(fs.exists(d) && !fs.exists(s),
              s"replayCommit: moving $s -> $d failed")
        } else require(fs.exists(d),
          s"replayCommit: $src gone and $dest absent — staged file lost")
        IndexStore.maybeCrash(s"move-$i")
      }
      if (token != "-") publishToken(token)
      IndexStore.maybeCrash("token")
      fs.delete(marker, false)
      fs.delete(new Path(root, stageRel), true)
    }

  /** Roll forward any committed-but-unfinished appends (called from
    * every read and maintenance entry point — the [[recoverSwap]]
    * discipline for the append path). `sweepStages` additionally deletes
    * UNREFERENCED stage dirs — crashed pre-commit appends that never
    * happened; only the single writer may sweep (a reader must not
    * delete a stage an in-flight append is still writing). */
  private def recoverCommits(sweepStages: Boolean = false): Unit = {
    val glob = fs.globStatus(new Path(root, "_commit-*"))
    val all = if (glob == null) Array[org.apache.hadoop.fs.FileStatus]()
      else glob
    all.filterNot(_.getPath.getName.contains(".tmp-"))
      .foreach(st => replayCommit(st.getPath))
    if (sweepStages) {
      // writeAtomic leftovers of a crashed marker publish, then stage
      // dirs no surviving marker references — pre-commit garbage
      all.filter(_.getPath.getName.contains(".tmp-"))
        .foreach(st => fs.delete(st.getPath, false))
      val stages = fs.globStatus(new Path(root, ".stage-*"))
      (if (stages == null) Array[org.apache.hadoop.fs.FileStatus]()
       else stages).foreach(st => fs.delete(st.getPath, true))
    }
  }

  /** Partition values currently present on disk — one directory listing,
    * no data read. Lets a keyed op skip the prior-rows lookup scan
    * entirely when the batch's own partitions already cover every live
    * one (any evicted row necessarily lives in a covered partition). */
  private def existingParts(t: Table): Set[Int] = {
    val partCol = t.band.get.col
    val glob = fs.globStatus(new Path(s"${path(t.name)}/$partCol=*"))
    if (glob == null) Set.empty
    else glob.map(_.getPath.getName.substring(partCol.length + 1).toInt).toSet
  }

  /** Partitions holding at least `minFiles` data files — the targeted-
    * compaction candidate set. File METADATA only (one listing per live
    * dir, no data read): at production scale appends fragment only the
    * partitions their batches touched, and a compaction that rewrites
    * every partition to fold a few is a whole-table job for O(touched)
    * work. `minFiles <= 1` degenerates to every live partition (the
    * full-fold rebuild-cadence form). */
  private def fragmentedParts(t: Table, minFiles: Int): Seq[Int] = {
    // recover FIRST even on the full-fold path: a partition sitting in a
    // crashed-swap .old-* state has no live dir and would be invisible
    // to the listing — the fold would silently skip it this round
    recoverPartitions(t)
    if (minFiles <= 1) return existingParts(t).toSeq.sorted
    val partCol = t.band.get.col
    val dirs = fs.globStatus(new Path(s"${path(t.name)}/$partCol=*"))
    (if (dirs == null) Array[org.apache.hadoop.fs.FileStatus]() else dirs)
      .filter { d =>
        // a dir can vanish between the glob and this listing (a
        // concurrent delete emptied the partition) — treat it as 0
        // files (not fragmented this round) instead of aborting the op
        val files =
          try fs.listStatus(d.getPath)
          catch {
            case _: java.io.FileNotFoundException =>
              Array.empty[org.apache.hadoop.fs.FileStatus]
          }
        files.count { f =>
          val n = f.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        } >= minFiles
      }
      .map(_.getPath.getName.substring(partCol.length + 1).toInt)
      .sorted.toSeq
  }

  /** Phase 1 of replacing some partitions of a banded table: heal crashed
    * swaps, then execute the `content` plan (the full replacement rows of
    * exactly the partitions [[swapCommit]] will name) into the table's
    * `.tmp-<uuid>` stage dir. The plan may read the live partitions, and
    * so may any concurrent pre-swap read job — no live byte moves until
    * [[swapCommit]]. Every overlapped read MUST be joined before commit
    * is called. Cost is ∝ touched partitions: one job over their bytes +
    * O(touched) renames — never a whole-table rewrite. */
  private def swapStage(t: Table, content: DataFrame): Path = {
    recoverPartitions(t)
    val tmp = new Path(s"${path(t.name)}/.tmp-${java.util.UUID.randomUUID()}")
    cast(t, content).write.mode("errorifexists").partitionBy(t.band.get.col)
      .parquet(tmp.toString)
    tmp
  }

  /** Phase 2: the per-partition renames (a crash between a partition's
    * two renames leaves an `.old-*` remnant that [[recoverPartitions]]
    * heals) and the stage-dir cleanup. A partition with no staged rows is
    * removed (its rows were all evicted). */
  private def swapCommit(t: Table, parts: Seq[Int], tmp: Path): Unit = {
    val partCol = t.band.get.col
    val uuid = tmp.getName.stripPrefix(".tmp-")
    parts.foreach { b =>
      val src = new Path(tmp, s"$partCol=$b")
      val dest = new Path(s"${path(t.name)}/$partCol=$b")
      if (fs.exists(src)) {
        val old = new Path(s"${path(t.name)}/.old-$uuid-$partCol=$b")
        if (fs.exists(dest)) require(fs.rename(dest, old),
          s"swapCommit(${t.name}): rename $dest -> $old failed")
        require(fs.rename(src, dest),
          s"swapCommit(${t.name}): rename $src -> $dest failed — " +
            s"pre-swap in $old")
        fs.delete(old, true)
      } else {
        // no src dir: every row of this partition was evicted. Delete the
        // live dir DIRECTLY — routing it through a rename-to-.old would
        // open a crash window where recoverPartitions RESTORES it,
        // resurrecting forgotten (right-to-be-forgotten) rows; a crash
        // mid-delete instead leaves a remnant that a retry of the same
        // idempotent op deletes for good.
        fs.delete(dest, true)
      }
    }
    fs.delete(tmp, true)
  }

  /** True iff a complete index built under exactly `meta` is present —
    * the online path's freshness gate (corpus changed, params changed, or
    * build crashed pre-fingerprint → false). */
  def isFresh(meta: String): Boolean = {
    val m = new Path(path("_meta"))
    fs.exists(m) && {
      val in = fs.open(m)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) == meta
      finally in.close()
    }
  }

  private def clearMeta(): Unit = {
    fs.delete(new Path(path("_meta")), false)
    fs.delete(new Path(path("_token")), false)
    // a full build supersedes any pending append: a commit marker
    // replayed AFTER the rebuilt tables swap in would inject a stale
    // batch's files into the fresh layout — purge markers and stages
    // instead of rolling them forward (rebuild-with-carryover paths
    // read the index first, which already rolled them forward)
    Seq("_commit-*", ".stage-*").foreach { pat =>
      val glob = fs.globStatus(new Path(root, pat))
      (if (glob == null) Array[org.apache.hadoop.fs.FileStatus]()
       else glob).foreach(st => fs.delete(st.getPath, true))
    }
  }

  private def writeAtomic(name: String, content: String): Unit = {
    val tmp = new Path(path(s"$name.tmp-" + java.util.UUID.randomUUID()))
    val outS = fs.create(tmp, true)
    try outS.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally outS.close()
    // Hadoop rename refuses an existing destination — delete first. A
    // crash inside the delete→rename window leaves the marker ABSENT,
    // which every reader treats as stale/unknown: the conservative
    // direction (a rebuild, never a silently-served wrong version).
    fs.delete(new Path(path(name)), false)
    require(fs.rename(tmp, new Path(path(name))),
      s"writeAtomic: publishing $name failed")
  }

  private def publishMeta(meta: String): Unit = writeAtomic("_meta", meta)

  // ------------------------------------------------------------------
  // covered-corpus version token
  //
  // `_meta` vouches for the BASE build and is untouched by maintenance
  // (isFresh keeps answering true for the base corpus — extensions are
  // additive, not staleness). `_token` is the COVERED-CORPUS version:
  // initialized to the build fingerprint and kept equal to what a fresh
  // fingerprint scan over the corpus-as-maintained WOULD compute, by
  // folding each maintenance batch's delta into the commutative terms
  // (n, Σid, Σhash). A caller that maintains its corpus version token
  // (every ingestion pipeline does — it is the thing writing the corpus)
  // gets an O(1) freshness check on the serving path: compare tokens,
  // no corpus scan.

  /** The covered-corpus version token, or None when absent (legacy index,
    * build crashed pre-fingerprint, or a maintenance op crashed between
    * its table swap and its token fold — all conservative: a token-gated
    * search treats None as stale). */
  def storedToken(): Option[String] = {
    // roll any committed-but-unfinished append forward FIRST: the token
    // gate must answer for the committed state, not a crash's leftovers
    // (one root listing — still corpus-independent)
    recoverCommits()
    val t = new Path(path("_token"))
    if (!fs.exists(t)) None
    else {
      val in = fs.open(t)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** O(1) freshness: does this index cover exactly the corpus version the
    * caller holds? One small file read; no job over any table. */
  def isCurrent(token: String): Boolean = storedToken().contains(token)

  private def publishToken(token: String): Unit =
    writeAtomic("_token", token)

  /** (rows, Σid, Σfp) of ledger rows — the commutative terms
    * [[foldToken]] adds/subtracts. `fp` is the same per-row hash the
    * store's fingerprint scan uses. */
  private def deltaOf(df: DataFrame): (Long, BigInt, BigInt) =
    CorpusToken.terms(df, col("id"), col("fp"))

  private val tokenRe =
    """^([^|]+)\|n=(-?\d+)\|sumid=(-?\d+)\|chk=(-?\d+)\|(.*)$""".r

  /** Pure token fold: n/Σid/Σhash move by (added − removed); the params
    * suffix is untouched. */
  private def foldedOf(cur: String, added: (Long, BigInt, BigInt),
                       removed: (Long, BigInt, BigInt)): String =
    cur match {
      case tokenRe(tag, n, sumid, chk, rest) =>
        s"$tag|n=${n.toLong + added._1 - removed._1}" +
          s"|sumid=${BigInt(sumid) + added._2 - removed._2}" +
          s"|chk=${BigInt(chk) + added._3 - removed._3}|$rest"
      case other =>
        throw new IllegalStateException(s"unparseable _token: '$other'")
    }

  /** Fold a maintenance delta into the stored token. Called AFTER a
    * table swap — a crash between swap and fold leaves the token BEHIND
    * the data, which is the conservative direction (a token-gated search
    * sees a mismatch and self-heals with a rebuild; it can never serve a
    * corpus version the index does not actually cover), and a full retry
    * of a SWAP-based op re-runs against the already-swapped state, so
    * its added and removed terms cancel and the fold nets zero — the
    * token converges. [[append]] does not use this: its fold rides the
    * [[atomicAppend]] commit marker, so token and data move together.
    * An absent token stays absent. */
  private def foldToken(added: (Long, BigInt, BigInt),
                        removed: (Long, BigInt, BigInt)): Unit =
    storedToken().foreach(t => publishToken(foldedOf(t, added, removed)))

  // ------------------------------------------------------------------
  // the maintenance lifecycle, once for every store
  //
  // Every op holds the lease and runs over the store's banded tables
  // concurrently (Overlap.jobs, guide §2.6): each table lives under its
  // own directory, and each content plan reads only its own table plus
  // checkpointed batch frames, so one table's swap can never be seen by
  // another's plan. The token fold runs after every swap.

  /** Persist a full build: every table swaps in first (banded ones
    * band-clustered, each with its `_layout` marker), the fingerprint
    * lands last. `meta` is by name: the builds pass a token fold over
    * their already-checkpointed frames, which reads no index table, so
    * it runs on a driver thread overlapped with the swaps. Crash safety:
    * `_meta`/`_token` are cleared first and land only after EVERY swap
    * finished, so any partial combination reads as stale and
    * rebuild-gates. */
  def writeIndex(meta: => String, frames: (Table, DataFrame)*): Unit =
    withLease("writeIndex") {
      require(frames.map(_._1).toSet == tables.toSet,
        s"writeIndex needs one frame per table of $root")
      clearMeta()
      val tok = Overlap.future(meta)
      // joining: the fold must not outlive the lease if a swap fails
      val m = Overlap.joining(tok)(Overlap.jobs(frames.map { case (t, df) =>
        () => swapIn(t, t.band.fold(df)(_ => clustered(t,
          withBand(t, df, nBands))))
      }: _*))
      publishToken(m)
      publishMeta(m)
    }

  /** Keyed incremental maintenance: replace-or-add `frames`' rows by id.
    * The eviction keys are the ledger batch's ids ∪ `evictIds` (which may
    * name ids that bring no new rows — a document re-posted with no text
    * leaves the covered corpus — but is never trusted alone: the batch's
    * own ids drive the touched-band arithmetic, or batch rows outside
    * the named bands would be dropped while their terms fold in, putting
    * the token AHEAD of the data). Every banded table drops the evicted
    * ids' rows wherever they lived (a re-ingested vector may have moved
    * cells) and takes its batch rows; only the touched bands are
    * rewritten. `_meta` is untouched — it vouches for the base build the
    * extension rides on, and [[isFresh]] keeps answering true — while
    * the covered-corpus `_token` folds the batch's ledger terms in and
    * the evicted rows' terms out, so [[isCurrent]] tracks exactly what
    * the index covers. Batch frames are materialized before any swap, so
    * a plan deriving them from this store's own tables can never re-read
    * a just-replaced directory. */
  def upsert(frames: Seq[(Table, DataFrame)],
             evictIds: Option[DataFrame]): Unit =
    withLease("upsert")(maintain(frames, evictIds))

  /** The forget path: remove `ids` (one column, `id`) from every banded
    * table — physically gone, not tombstoned, so a deleted item can never
    * be a search candidate again. Summary tables (centroids, cells,
    * codebooks) are untouched between rebuilds, exactly how production
    * IVF handles deletes. Only the bands holding doomed rows are
    * rewritten; absent ids are a no-op, so the call is idempotent. The
    * covered-corpus `_token` drops the forgotten rows' ledger terms. */
  def delete(ids: DataFrame): Unit =
    withLease("delete")(maintain(Nil, Some(ids)))

  /** O(batch) ingest for GENUINELY-NEW ids — the LSM/segment-style
    * append: the batch's files land INSIDE their bands without reading
    * or rewriting ANY existing byte ([[upsert]]'s kept-side rewrite
    * exists to EVICT re-ingested ids; with nothing to evict it is pure
    * waste — and for text, whose whole-document batches hash into every
    * term bucket, the keyed upsert is a full rewrite by construction).
    * Every table's files and the token publish under ONE commit marker
    * ([[atomicAppend]]): the append either fully happened or not at all
    * (an id's rows can straddle writer files or tables; the marker's
    * roll-forward keeps them together), so the retry discipline is the
    * caller's O(1) token check — no id-presence scan. The caller owns the
    * new-ids guarantee; a CHANGED item under an existing id must go
    * through [[upsert]]. Appends accumulate small files per band;
    * [[compact]] folds them back. */
  def append(frames: (Table, DataFrame)*): Unit = withLease("append") {
    // batch-sized; materialized once — consumed by the staged file
    // write AND the token delta
    val batch = frames.map { case (t, df) =>
      t -> withBand(t, df, liveBands(t)).localCheckpoint(true) }
    val (lt, rows) = ledger
    atomicAppend(batch.map { case (t, inc) => t -> clustered(t, inc) },
      deltaOf(batch.toMap.apply(lt).where(rows)))
  }

  /** Fold append-accumulated files back into the clustered layout, one
    * staged rewrite per banded table. The default (`minFiles = 1`) folds
    * every live band — the rebuild-cadence whole-table form; `minFiles
    * >= 2` folds only bands whose file count reached the threshold
    * ([[fragmentedParts]], file metadata only), so steady-state
    * compaction cost is ∝ the bands appends actually fragmented. Rows and
    * censuses are unchanged either way; untouched bands' files are not
    * rewritten. */
  def compact(minFiles: Int = 1): Unit = withLease("compact") {
    Overlap.jobs(banded.map { t => () =>
      val parts = fragmentedParts(t, minFiles)
      if (parts.nonEmpty)
        swapCommit(t, parts, swapStage(t,
          clustered(t, readBanded(t).where(inParts(t, parts)))))
    }: _*)
  }

  /** [[upsert]] and [[delete]]: a delete is an upsert with no batch. */
  private def maintain(frames: Seq[(Table, DataFrame)],
                       evictIds: Option[DataFrame]): Unit = {
    // batch-sized; materialized once because the plans below read it for
    // the band census, the eviction keys, the token delta and the content
    val batch = frames.map { case (t, df) =>
      t -> withBand(t, df, liveBands(t)).localCheckpoint(true) }.toMap
    val (lt, rows) = ledger
    val batchIds = batch.get(lt).map(_.select(col("id")))
    val ids = evictIds.fold(batchIds.get.distinct())(e =>
      (e.select(col("id")) +: batchIds.toSeq).reduce(_ unionByName _)
        .distinct().localCheckpoint(true))
    var (added, removed) = (IndexStore.NoTerms, IndexStore.NoTerms)
    Overlap.jobs(banded.map { t => () =>
      val inc = batch.get(t)
      val live = readBanded(t)
      val touched = touchedParts(t, inc, ids, live)
      val kept = live.where(inParts(t, touched))
      // the ledger's token terms — evicted rows out, batch rows in —
      // overlapped with the staged write: all read pre-swap state
      val terms = if (t != lt) Nil else Seq(
        Overlap.future(deltaOf(kept.where(rows)
          .join(ids, Seq("id"), "left_semi"))),
        Overlap.future(inc.fold(IndexStore.NoTerms)(i =>
          deltaOf(i.where(rows)))))
      val tmp = Option.when(touched.nonEmpty)(
        Overlap.guarding(terms: _*)(swapStage(t, clustered(t,
          inc.foldLeft(kept.join(ids, Seq("id"), "left_anti"))(
            _ unionByName _)))))
      // every delta joined strictly BEFORE any rename
      terms.map(_()) match {
        case Seq(r, a) => removed = r; added = a
        case _ =>
      }
      tmp.foreach(swapCommit(t, touched, _))
    }: _*)
    foldToken(added, removed)
  }

  /** The bands a keyed op rewrites: the batch's own ∪ those holding prior
    * rows of `ids`. When the band key is the id itself those are
    * arithmetic — one job over the batch and the ids, no table scan;
    * otherwise an (id, band)-only column scan finds them, skipped when
    * the batch's bands already cover every live one (a broad batch pays
    * zero lookup cost; for a narrow one the scan is also what keeps the
    * rewrite narrow). */
  private def touchedParts(t: Table, inc: Option[DataFrame], ids: DataFrame,
                           live: DataFrame): Seq[Int] = {
    val b = t.band.get
    def bands(df: DataFrame) =
      df.select(col(b.col)).distinct().collect().map(_.getInt(0)).toSeq
    if (b.key == "id") {
      val idBands = ids.select(b.of(col("id"), liveBands(t)).as(b.col))
      bands(inc.fold(idBands)(_.select(col(b.col)).unionByName(idBands)))
        .sorted
    } else {
      val fresh = inc.fold(Seq.empty[Int])(bands)
      val prior =
        if (existingParts(t).subsetOf(fresh.toSet)) Nil
        else bands(live.select(col(b.col), col("id"))
          .join(ids, Seq("id"), "left_semi"))
      (fresh ++ prior).distinct.sorted
    }
  }

  // ------------------------------------------------------------------
  // single-writer lease
  //
  // The swap-write + commit-marker protocols assume ONE maintainer per
  // index at a time (two concurrent upserts could interleave their
  // partition swaps and token folds). The lease makes that contract
  // enforced instead of assumed: every mutating op runs under
  // `_lease` — acquired with an atomic create-if-absent, so two
  // maintainers racing on the same store get one winner and one
  // actionable error, never interleaved writes. A maintainer that DIED
  // holding the lease (no finally ran) is healed by the TTL: the next
  // acquirer breaks an expired lease. Readers never touch the lease —
  // searches stay lock-free on the swapped-in state.

  /** Run `body` holding this store's maintenance lease. Throws (does not
    * wait) when another live maintainer holds it: maintenance is batch
    * work — the caller's scheduler owns queueing, not a file lock. */
  private def withLease[T](op: String)(body: => T): T = {
    val lease = new Path(path("_lease"))
    val me = java.util.UUID.randomUUID().toString
    def readLease(): Option[String] =
      if (!fs.exists(lease)) None
      else
        try {
          val in = fs.open(lease)
          try Some(new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8))
          finally in.close()
        } catch { case _: java.io.FileNotFoundException => None }
    def tryAcquire(): Boolean =
      try {
        // overwrite = false: atomic create-if-absent — the lock
        val out = fs.create(lease, false)
        try out.write(
          s"$me|${System.currentTimeMillis() + IndexStore.LeaseTtlMs}"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    def acquire(attempt: Int): Unit =
      if (!tryAcquire()) {
        val cur = readLease()
        val expired = cur.forall { s =>
          val i = s.lastIndexOf('|')
          i < 0 || scala.util.Try(s.substring(i + 1).trim.toLong)
            .toOption.forall(_ < System.currentTimeMillis())
        }
        if (expired && attempt < 3) {
          cur.foreach(_ => fs.delete(lease, false)) // break a dead lease
          acquire(attempt + 1)
        } else throw new IllegalStateException(
          s"$op: index at $root is being maintained by another writer " +
            s"(lease ${cur.getOrElse("vanished mid-check")}); retry after " +
            "it finishes or its lease expires " +
            s"(TTL ${IndexStore.LeaseTtlMs / 60000} min)")
      }
    acquire(0)
    try body
    finally {
      // release only OUR lease: an expiry-breaker may have replaced it
      if (readLease().exists(_.startsWith(me + "|")))
        fs.delete(lease, false)
    }
  }
}

private[graft] object IndexStore {
  /** Band count new layouts of every store are written with (a store's
    * `nBands`). Sized so single-node tests keep per-band files
    * non-trivial; a 1000-executor deployment raises it (bands are
    * independent, so the count only trades maintenance granularity
    * against file count). The count an index was BUILT with is persisted
    * in its `_layout` marker and governs all maintenance on it. */
  val Bands = 16

  /** One stored table: its name, its schema and, for a
    * directory-partitioned table, its [[Band]]ing. */
  private[sources] final case class Table(name: String, schema: StructType,
                                          band: Option[Band] = None)

  /** How a partitioned table bands its rows: partition column `col` =
    * `of(key, nBands)`. Rows are sorted by `key` within a band (so probes
    * row-group-prune on it) and spread across writer tasks by `spread`,
    * a high-cardinality tiebreak — never the key when one band can hold
    * a single key value. */
  private[sources] final case class Band(col: String, key: String,
                                         of: (Column, Int) => Column,
                                         spread: String = "id")

  private[sources] def modBand(c: Column, n: Int): Column =
    pmod(c, lit(n.toLong)).cast("int")

  /** Internal layout only — band values never reach query output, so the
    * Spark-specific hash is fine. */
  private[sources] def hashBand(c: Column, n: Int): Column =
    modBand(xxhash64(c), n)

  private[sources] val NoTerms: (Long, BigInt, BigInt) = (0L, BigInt(0), BigInt(0))

  /** Maintenance-lease TTL — how long a DEAD maintainer (crashed without
    * running its release) blocks the next one. */
  private[graft] val LeaseTtlMs: Long = 15L * 60 * 1000

  /** Test-only failpoint: the append commit path calls `maybeCrash(step)`
    * at every publish step ("staged", "marker", "move-<i>", "token"); a
    * spec sets this predicate to kill the append at an exact step and
    * then proves recovery rolls the commit forward. Always false outside
    * specs. */
  @volatile private[graft] var crashAt: String => Boolean = _ => false

  private[graft] final class InjectedCrash(step: String)
      extends RuntimeException(s"injected crash at $step")

  private[sources] def maybeCrash(step: String): Unit =
    if (crashAt(step)) throw new InjectedCrash(step)

  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Per-root monitor serializing commit replay within the process (two
    * threads — a reader's recovery and the writer — must not interleave
    * one marker's moves; cross-process races are tolerated by the
    * idempotent move handling). */
  private[sources] def lockFor(root: String): Object =
    rootLocks.computeIfAbsent(root, _ => new Object)
}

/** Stored IVF index — see [[graft.operators.Similarity.ivfBuildStored]].
  *
  * Layout under `root/`:
  *   - `centroids/`  (cid, cv array<double>, cn) — K rows, broadcast-sized.
  *   - `postings/cid_band=N/`  (cid, id, v array<double>, nrm, fp) — the
  *     inverted lists, directory-partitioned on cid mod `nBands` and
  *     cid-sorted within files, so a probe of p cells row-group-prunes to
  *     ~p/K of the bytes AND an ingest/delete batch rewrites only the
  *     bands holding its cells — maintenance ∝ touched cells, not corpus
  *     (the round-14 flat layout measured corpus-linear at the 1000×
  *     decade). The postings are also the token ledger.
  */
final class VectorIndex(spark: SparkSession, root: String,
                        nBands: Int = IndexStore.Bands)
    extends IndexStore(spark, root, nBands) {
  private val Centroids = Table("centroids",
    StructType.fromDDL("cid BIGINT, cv ARRAY<DOUBLE>, cn DOUBLE"))
  private val Postings = Table("postings", StructType.fromDDL(
      "cid BIGINT, id BIGINT, v ARRAY<DOUBLE>, nrm DOUBLE, fp BIGINT"),
    Some(Band("cid_band", "cid", IndexStore.modBand)))
  protected val tables: Seq[Table] = Seq(Postings, Centroids)
  protected val ledger: (Table, Column) = (Postings, lit(true))

  /** Per-row content hash, identical to the fingerprint scan's term
    * (the scan hashes (id, toDouble(vec)); v IS toDouble(vec)) — stored
    * on every posting row so maintenance deltas and rebuilds read an
    * 8-byte column instead of re-hashing vectors. */
  private def fpOf(df: DataFrame): DataFrame =
    df.withColumn("fp", xxhash64(col("id"), col("v")))

  def readCentroids(): DataFrame = readTable(Centroids)
  def readPostings(): DataFrame = readTable(Postings)

  def writeIndex(centroids: DataFrame, postings: DataFrame,
                 meta: => String): Unit =
    writeIndex(meta, Postings -> fpOf(postings), Centroids -> centroids)
  /** `postings`: (cid, id, v, nrm) rows assigned to the stored grid. */
  def upsert(postings: DataFrame): Unit =
    upsert(Seq(Postings -> fpOf(postings)), None)
  def append(postings: DataFrame): Unit = append(Postings -> fpOf(postings))
}

/** Stored inverted text index — see
  * [[graft.operators.TfIdf.sparseBuildStored]]. The sparse-retrieval
  * counterpart of the dense stores: the tokenize → tf → df → weight
  * pipeline (the inline path's localCheckpoint apex) runs once offline
  * and persists; online searches join the prebuilt relations and never
  * touch document text.
  *
  * Layout under `root/`:
  *   - `postings/term_bucket=N/` (term, id, df, tf, w) — the weighted
  *     inverted lists, directory-partitioned on the term hash and
  *     term-sorted within files, so a narrow-term-set probe
  *     row-group-prunes and an ingest/delete rewrites only the buckets
  *     holding its terms; df rides each row (the search-time rare-band
  *     filter is a scan-level predicate, not a join). Per-term df values
  *     on surviving rows keep their build-time counts through ingest and
  *     delete (the stale-df contract; drift is absorbed at the next full
  *     rebuild).
  *   - `norms/id_bucket=N/` (id, n2 decimal(38,0), fp) — per-doc squared
  *     weight norms, partitioned on the doc id so keyed maintenance
  *     touches ~|batch| buckets, found from the ids without a scan.
  */
final class TextIndex(spark: SparkSession, root: String,
                      nBands: Int = IndexStore.Bands)
    extends IndexStore(spark, root, nBands) {
  // tf rides every posting row so a stats-refresh rebuild can recompute
  // weights under fresh df without the corpus (w alone is lossy: terms
  // with df > idfScale weigh 0)
  private val Postings = Table("postings", StructType.fromDDL(
      "term STRING, id BIGINT, df BIGINT, tf BIGINT, w BIGINT"),
    Some(Band("term_bucket", "term", IndexStore.hashBand)))
  // norms are the per-doc LEDGER: one row per ingested doc (n2 = 0 for a
  // term-less doc) carrying fp = xxhash64(id, text) — the fingerprint
  // term token folds and rebuilds reconstruct without re-reading text
  private val Norms = Table("norms",
    StructType.fromDDL("id BIGINT, n2 DECIMAL(38,0), fp BIGINT"),
    Some(Band("id_bucket", "id", IndexStore.modBand)))
  protected val tables: Seq[Table] = Seq(Postings, Norms)
  protected val ledger: (Table, Column) = (Norms, lit(true))

  def readPostings(): DataFrame = readTable(Postings)
  def readNorms(): DataFrame = readTable(Norms)

  def writeIndex(postings: DataFrame, norms: DataFrame,
                 meta: => String): Unit =
    writeIndex(meta, Postings -> postings, Norms -> norms)
  /** `evictIds` widens the batch's doc ids (see [[IndexStore.upsert]]). */
  def upsert(postings: DataFrame, norms: DataFrame,
             evictIds: Option[DataFrame] = None): Unit =
    upsert(Seq(Postings -> postings, Norms -> norms), evictIds)
  def append(postings: DataFrame, norms: DataFrame): Unit =
    append(Postings -> postings, Norms -> norms)
}

/** Stored IVF-PQ index — see
  * [[graft.operators.Similarity.ivfPqBuildStored]]. The compressed
  * production layout: raw vectors never leave the corpus; the index holds
  * the integer cell grid, the per-subspace codebooks (both
  * broadcast-sized), and the m-byte-shaped code rows clustered by cell so
  * an nProbe-cell search row-group-prunes the code scan.
  *
  * Layout under `root/`:
  *   - `cells/`     (cid, cv array<bigint>) — fixed-point cell centers.
  *   - `codebooks/` (s, ccid, csub array<bigint>) — m × kCodes sub-vectors.
  *   - `codes/cid_band=N/` (cid, id, s, code, fp) — one row per
  *     (vector, subspace), directory-partitioned on cid mod `nBands` and
  *     cid-sorted within files, so searches prune to probed cells and
  *     keyed maintenance rewrites only touched bands. No re-encode on
  *     ingest or delete: codes are per-vector, so a vector's m rows are
  *     its whole footprint.
  */
final class PqIndex(spark: SparkSession, root: String,
                    nBands: Int = IndexStore.Bands)
    extends IndexStore(spark, root, nBands) {
  private val Cells = Table("cells",
    StructType.fromDDL("cid BIGINT, cv ARRAY<BIGINT>"))
  private val Codebooks = Table("codebooks",
    StructType.fromDDL("s INT, ccid BIGINT, csub ARRAY<BIGINT>"))
  // fp = xxhash64(id, raw vector), set ONLY on the s = 0 row of each id
  // (null elsewhere — RLE-cheap): the per-VECTOR fingerprint term the
  // covered-corpus token folds; raw vectors never enter this store, so
  // the hash must be computed at encode time and ride the codes
  private val Codes = Table("codes",
    StructType.fromDDL("cid BIGINT, id BIGINT, s INT, code BIGINT, fp BIGINT"),
    Some(Band("cid_band", "cid", IndexStore.modBand)))
  protected val tables: Seq[Table] = Seq(Codes, Cells, Codebooks)
  protected val ledger: (Table, Column) = (Codes, col("s") === 0)

  def readCells(): DataFrame = readTable(Cells)
  def readCodebooks(): DataFrame = readTable(Codebooks)
  def readCodes(): DataFrame = readTable(Codes)

  def writeIndex(cells: DataFrame, codebooks: DataFrame, codes: DataFrame,
                 meta: => String): Unit =
    writeIndex(meta, Codes -> codes, Cells -> cells, Codebooks -> codebooks)
  def upsert(codes: DataFrame): Unit = upsert(Seq(Codes -> codes), None)
  def append(codes: DataFrame): Unit = append(Codes -> codes)
}
