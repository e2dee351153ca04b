package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, collect_set, count, lit, max, min, shiftright, spark_partition_id, when, xxhash64}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Object-store-safe document store: immutable SEGMENT directories
  * committed by an append-only MANIFEST of pointer files — the minimal
  * Delta/Iceberg-style commit protocol, sized to this engine's needs.
  *
  * A rename-based compaction swap is correct only where rename is
  * atomic (HDFS, POSIX), NOT on the object stores the reference
  * actually runs against (MinIO, reference main.go:131-143): S3-style
  * rename is copy+delete, so a swap has a "briefly absent partition"
  * window and needs a recovery sweep. This layout removes the
  * dependence on rename entirely:
  *
  *   - data: `table/collection=<c>/seg=<NNNNNN>/part-*.parquet` —
  *     segments are IMMUTABLE once referenced by a pointer; appends
  *     write a NEW segment next to the live ones (never into them —
  *     mutating published files would tear concurrent reads),
  *     compaction writes one new segment replacing the whole list;
  *   - commit: `table/_manifest/<c>/ptr-<NNNNNN>` — tiny files, created
  *     once, NEVER overwritten or renamed. The highest-sequence pointer
  *     with valid content (`segs:<n>,<n>,...;end` — terminator-checked
  *     so a crash-truncated prefix can never parse — or `tombstone`)
  *     names the collection's LIVE SEGMENT LIST. Publishing a commit — append,
  *     compaction, delete alike — is one single-file create: a PUT is
  *     visible in full or not at all on every object store, so a commit
  *     is all-or-nothing to readers. (The WRITER-side race lock
  *     additionally needs atomic create-no-overwrite — see [[publish]]
  *     for the exact FS capability and the S3A caveat.) Every state
  *     change goes through a pointer, so every state change is
  *     all-or-nothing to readers.
  *
  * Crash matrix (why no recovery sweep is needed, unlike a rename
  * protocol):
  *   - crash while writing a segment (append or compaction) → pointer
  *     unmoved, the partial directory is unreferenced and invisible;
  *     the next attempt claims a FRESH segment number (the crashed
  *     number's claim file keeps it retired), and [[vacuum]] (past its
  *     age guard) removes abandoned segment dirs and claims together;
  *   - crash while creating the pointer file → a truncated/empty
  *     pointer is INVALID content and is skipped; resolution falls back
  *     to the previous pointer (the old segment list stays live);
  *   - crash after the pointer lands → superseded segments are
  *     unreferenced garbage, removed by [[vacuum]].
  * A reader holding a resolved segment list keeps reading it through
  * any concurrent append/compaction/delete — there is no absent window
  * and no torn append at any instant.
  *
  * Concurrency — CONCURRENT WRITERS are supported and the race is
  * DEMONSTRATED by spec (the reference serializes with a
  * per-collection mutex, main.go O12, and runs preforked processes
  * against it, main.go:113; SURVEY §2.3 replaces the lock with
  * immutable snapshots plus two optimistic create-no-overwrite locks):
  *
  *   - SEGMENT NUMBERS are claimed before any data write
  *     ([[claimSeg]]: create-no-overwrite on `claim-<n>`, losers bump),
  *     so racing writers never target the same directory;
  *   - COMMITS serialize on the pointer create ([[commitWithRetry]]):
  *     the loser's create throws, it re-resolves against the winner's
  *     published state, recomputes its commit content (append keeps
  *     the winner's segments; compaction re-bases or abandons; a
  *     duplicate idempotency tag abandons), and retries — every
  *     writer's batch lands exactly once, the pointer log stays dense.
  *
  * Both locks need the same FS capability (atomic create-no-overwrite,
  * see [[publish]] for the S3A caveat). [[vacuum]] deletes only
  * unreferenced directories older than its age guard, so an in-flight
  * writer's uncommitted segment and its claim (or a brand-new
  * collection's first segment racing its pointer) are never swept; run
  * it with an age bound exceeding both the longest write and the
  * longest reader of superseded snapshots (the Delta VACUUM retention
  * contract).
  */
object ManifestStore {

  private val PtrPrefix = "ptr-"
  private val ClaimPrefix = "claim-"
  private val Tombstone = "tombstone"
  private val SegsPrefix = "segs:"

  /** Copy-on-write MERGE (the lakehouse `MERGE INTO` analogue): apply
    * a change batch to a collection as ONE atomic pointer commit —
    * rows in `changes` REPLACE live rows with an equal `key` (upsert),
    * unmatched change rows insert, and change rows flagged true in
    * `deletedCol` (when the column is present) remove their key; a
    * NULL flag is an upsert (a null must never silently delete). The
    * rewrite is ZONE-MAP PRUNED to the segments whose recorded key
    * range intersects the change batch's [min,max] key bounds (the
    * Delta MERGE file-pruning model): every other live segment is
    * carried forward UNTOUCHED in the pointer commit, so merge cost
    * scales with the touched key range, not the collection — a 1-key
    * upsert of a 100 TB collection rewrites one segment, not 100 TB.
    * Pruning needs the merge key in the table's zone-map column set
    * ([[setZoneMapColumns]]) with matching stat kind; otherwise the
    * merge falls back to the full rewrite, loudly (stderr warning).
    * The bound-based prune is sound because every change key lies
    * inside the batch bounds, so a non-intersecting segment cannot
    * hold any touched key; segments lacking stats rewrite
    * conservatively.
    *
    * The rewritten rows are re-CLUSTERED by the merge key into as many
    * segments as were rewritten ([[writeClusteredSegments]] — fresh
    * tight sidecars per output segment), so repeated merges do not
    * collapse the collection into one unprunable segment; layout
    * quality on OTHER z-order axes still degrades across the rewritten
    * subset until the next [[zorderCompact]].
    *
    * Concurrency: concurrent APPENDS ride along untouched (their keys
    * were not visible to this merge — Delta's read-snapshot
    * semantics); a pointer race lost to another REWRITE of the input
    * segments RETRIES the whole merge against the new snapshot
    * (bounded attempts — silently dropping the batch would be data
    * loss), abandoning the orphaned output. Returns true when the
    * batch landed (including as a no-op: deletes of absent keys
    * publish nothing); throws after [[MaxCommitAttempts]] lost
    * rewrite races. Readers never see a half-merged state (pointer
    * atomicity), in-flight readers keep their snapshot, and
    * [[readAsOfInferred]] still serves the pre-merge version — a merge
    * is one more pointer in the history, not an overwrite. */
  /** `mergeSchema = true` additionally WIDENS the table by any new
    * change-batch columns (the Delta `autoMerge` analogue): rewritten
    * rows carry NULL for columns they never had, carried-forward
    * segments stay untouched and serve NULLs through the inferred
    * read's `mergeSchema` union — schema evolution is metadata-free
    * here because the reader already unifies footers. Strict mode
    * (default) keeps today's contract: extra change columns are
    * projected away, missing ones fail loud. In BOTH modes an upsert
    * REPLACES its row in full — with `mergeSchema` a change row
    * missing a table column nulls it (the row is the new truth), so
    * partial-row updates must be pre-joined by the caller. */
  def mergeCollection(spark: SparkSession, tablePath: String, c: String,
      changes: DataFrame, key: String = "doc_id",
      deletedCol: String = "_deleted",
      mergeSchema: Boolean = false): Boolean =
    mergeImpl(spark, tablePath, c, changes, key, deletedCol, None,
      mergeSchema)

  /** IDEMPOTENT merge — the exactly-once CDC-apply primitive: like
    * [[mergeCollection]], but the commit carries a provenance `tag`,
    * and a tag already in the retained pointer log makes the call a
    * no-op returning false ([[storeBatch]]'s at-least-once-to-
    * exactly-once discipline applied to MERGE, the `foreachBatch` +
    * `MERGE INTO` change-capture pattern: a crashed stream redelivers
    * its last change batch, and the redelivery must not re-apply
    * upserts over rows a LATER batch already advanced). Concurrent
    * replays of the same tag race on the pointer; exactly one applies.
    * Two caveats, both inherent to the format: a merge whose net
    * effect is empty (deletes of absent keys) publishes no pointer,
    * so its tag is never recorded — redelivering it recomputes the
    * same no-op; and a merge that deletes the LAST row publishes an
    * untagged tombstone — redelivery deletes against an empty
    * collection, also a no-op. Returns true iff THIS call applied the
    * batch. */
  def mergeBatch(spark: SparkSession, tablePath: String, c: String,
      changes: DataFrame, tag: String, key: String = "doc_id",
      deletedCol: String = "_deleted",
      mergeSchema: Boolean = false): Boolean = {
    require(tag.nonEmpty && !tag.contains(';'),
      s"mergeBatch tag must be non-empty and ';'-free, got '$tag'")
    mergeImpl(spark, tablePath, c, changes, key, deletedCol, Some(tag),
      mergeSchema)
  }

  private def mergeImpl(spark: SparkSession, tablePath: String, c: String,
      changes: DataFrame, key: String, deletedCol: String,
      srcTag: Option[String], mergeSchema: Boolean = false): Boolean = {
    val fs = fsOf(spark, tablePath)
    val hasDel = changes.columns.contains(deletedCol)
    val upserts =
      (if (hasDel)
        changes.where(!coalesce(col(deletedCol), lit(false)))
          .drop(deletedCol)
       else changes)
    val touched = changes.select(col(key)).distinct()
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      attempt += 1
      val r = resolve(fs, tablePath, c)
      if (srcTag.exists(r.seenTags.contains)) return false // replayed
      if (r.liveSegs.isEmpty) {
        // absent or tombstoned collection: the merge is pure insert
        // (tagged through storeBatch so the replay window still holds)
        if (upserts.isEmpty) return true
        return srcTag match {
          case Some(t) => storeBatch(upserts, tablePath, c, t)
          case None => store(upserts, tablePath, c); true
        }
      }
      val live = r.liveSegs.toSeq.flatten
      // inferred schema of the FULL live set (footer metadata only —
      // no data scan): the rewrite must preserve every column, and
      // upserts project into it
      val all = readSegsInferred(spark, tablePath, c, live, live)
        .drop("collection")
      require(all.columns.contains(key),
        s"merge key '$key' not in collection '$c' " +
          s"(has: ${all.columns.mkString(", ")})")
      // widen-only schema evolution: a retyped column fails HERE, not
      // as a silent union coercion inside the rewrite (the merge
      // already paid for the full inferred live schema, so this door's
      // check is exact, not newest-segment best-effort)
      val csens = caseSensitiveOf(spark)
      requireWidenOnly(all.schema, upserts.schema, c, "merge",
        allowFamilyWidening = true, caseSensitive = csens)
      // conform shared columns to the TABLE's types before any write:
      // the union path coerces anyway, but the pure-insert path would
      // otherwise land the batch's own narrower parquet type next to
      // the existing segments' - which the footer-union read refuses
      // (the reason the append doors demand exact types)
      val exTypes = all.schema.fields
        .map(f => nameKey(f.name, csens) -> f.dataType).toMap
      val conformed = upserts.select(upserts.columns.toSeq.map(n =>
        exTypes.get(nameKey(n, csens)).map(t => col(n).cast(t))
          .getOrElse(col(n)).as(n)): _*)
      val keyKind = zmKindOf(all.schema(key).dataType)
      // prunability needs the CHANGES' key to produce bounds in the
      // same order as the sidecar stats: any integral type casts
      // losslessly to long ('l'), but string-kind stats are
      // CAST-TO-STRING bounds whose format is type-specific ("1.5"
      // double vs "1.50" decimal) — there, only the exact same type is
      // comparable; anything else falls back to the full rewrite
      // a FLOAT merge key is never prunable here: the prune algebra
      // below is long/utf8 only, and float-equality merge keys are a
      // modeling smell anyway — fall back loud to the full rewrite
      val prunable = zoneMapColumnsOf(fs, tablePath).contains(key) &&
        changes.columns.contains(key) && keyKind != 'd' &&
        (if (keyKind == 'l') zmKindOf(changes.schema(key).dataType) == 'l'
         else changes.schema(key).dataType == all.schema(key).dataType)
      val rewriteSegs: Seq[Long] =
        if (!prunable) {
          System.err.println(
            s"graft.ManifestStore: merge on '$c' key '$key' is not " +
              "zone-map-prunable (key unmapped, or stat kind differs " +
              "between changes and collection) - falling back to a " +
              "FULL collection rewrite; setZoneMapColumns to fix")
          live
        } else {
          val kCol =
            if (keyKind == 'l') col(key).cast("long")
            else col(key).cast("string")
          val b = touched
            .agg(min(kCol).as("lo"), max(kCol).as("hi"),
              count(kCol).as("n")).head
          // a SMALL batch refines the prune from batch bounds to the
          // exact key set (sorted, binary-searched per segment): two
          // keys at opposite ends of the keyspace then rewrite two
          // segments, not everything between them. Large batches keep
          // the bounds test — the set's cost would grow with the batch.
          val keySet: Option[Array[Any]] =
            if (b.isNullAt(0) || b.getLong(2) > MergeKeySetCap) None
            else Some {
              val ks = touched.select(kCol.as("k"))
                .where(col("k").isNotNull).distinct().collect()
              if (keyKind == 'l') ks.map(_.getLong(0)).sorted
                .map(_.asInstanceOf[Any])
              else ks.map(_.getString(0))
                .sortWith(utf8Cmp(_, _) < 0).map(_.asInstanceOf[Any])
            }
          // any touched key inside [sLo,sHi]? (sorted-array search)
          def setHits(sLo: String, sHi: String): Boolean = keySet match {
            case Some(ks) if keyKind == 'l' =>
              (sLo.toLongOption, sHi.toLongOption) match {
                case (Some(l), Some(h)) =>
                  val i = lowerBound(ks, l, (a: Any, b0: Any) =>
                    a.asInstanceOf[Long] < b0.asInstanceOf[Long])
                  i < ks.length && ks(i).asInstanceOf[Long] <= h
                case _ => true
              }
            case Some(ks) =>
              val i = lowerBound(ks, sLo, (a: Any, b0: Any) =>
                utf8Cmp(a.asInstanceOf[String], b0.asInstanceOf[String]) < 0)
              i < ks.length &&
                utf8Cmp(ks(i).asInstanceOf[String], sHi) <= 0
            case None => true
          }
          // BLOOM refinement on top of the key-set prune (small
          // batches, long keys): a segment whose range and sorted-set
          // tests pass can still be skipped when its bloom sidecar
          // says every touched key in range is definitely absent —
          // the discriminator for overlapping post-append key ranges
          // zone maps cannot separate. Advisory: no sidecar → no
          // refinement; false positives only cost an extra rewrite.
          def bloomHits(seg: Long, sLo: String, sHi: String): Boolean =
            (keySet, keyKind) match {
              case (Some(ks), 'l') =>
                readSegBlooms(fs, tablePath, c, seg).get(key) match {
                  case Some(('l', m, bytes)) =>
                    (sLo.toLongOption, sHi.toLongOption) match {
                      case (Some(l), Some(h)) =>
                        ks.iterator.map(_.asInstanceOf[Long])
                          .filter(k0 => k0 >= l && k0 <= h)
                          .exists(k0 => bloomMayContain(m, bytes, k0))
                      case _ => true
                    }
                  case _ => true
                }
              case (Some(ks), 's') =>
                readSegBlooms(fs, tablePath, c, seg).get(key) match {
                  case Some(('s', m, bytes)) =>
                    ks.iterator.map(_.asInstanceOf[String])
                      .filter(k0 =>
                        utf8Cmp(k0, sLo) >= 0 && utf8Cmp(k0, sHi) <= 0)
                      .exists(k0 => bloomMayContainStr(m, bytes,
                        org.apache.spark.unsafe.types.UTF8String
                          .fromString(k0)))
                  case _ => true
                }
              case _ => true
            }
          if (b.isNullAt(0)) Seq.empty // only NULL keys: match nothing
          else live.filter { seg =>
            readSegStats(fs, tablePath, c, seg).get(key) match {
              case Some((k, sLo, sHi)) if k == keyKind && keyKind == 'l' =>
                (sLo.toLongOption, sHi.toLongOption) match {
                  case (Some(l), Some(h)) =>
                    !(h < b.getLong(0) || l > b.getLong(1)) &&
                      setHits(sLo, sHi) && bloomHits(seg, sLo, sHi)
                  case _ => true
                }
              case Some((k, sLo, sHi)) if k == keyKind =>
                !(utf8Cmp(sHi, b.getString(0)) < 0 ||
                  utf8Cmp(sLo, b.getString(1)) > 0) &&
                  setHits(sLo, sHi) && bloomHits(seg, sLo, sHi)
              case _ => true // no stats / wrong kind: rewrite
            }
          }
        }
      val merged =
        if (rewriteSegs.isEmpty)
          // no live segment can hold a touched key: pure insert (and
          // deletes of absent keys are no-ops)
          (if (mergeSchema) conformed
           else conformed.select(all.columns.map(col): _*))
        else {
          val survivors =
            readSegsInferred(spark, tablePath, c, rewriteSegs, rewriteSegs)
              .drop("collection")
              .join(touched, Seq(key), "left_anti")
          if (mergeSchema)
            survivors.unionByName(conformed, allowMissingColumns = true)
          else
            // the survivors' inferred schema covers only the PRUNED
            // rewrite subset: on a table widened by a prior
            // mergeSchema merge, a strict merge whose rewrite set holds
            // only old-schema segments would fail the union (survivors
            // lack the widened column even though the change batch
            // carries it). Union with missing columns allowed, then
            // re-project to the full live schema — absent survivor
            // columns become NULL, matching the inferred-read
            // semantics of the untouched segments.
            survivors.unionByName(conformed.select(all.columns.map(col): _*),
                allowMissingColumns = true)
              .select(all.columns.map(col): _*)
        }
      if (rewriteSegs.isEmpty && merged.isEmpty) return true // no-op
      val ord =
        if (keyKind == 'l') col(key)
        else if (keyKind == 'd') col(key).cast("double")
        else col(key).cast("string")
      val laid = merged
        .repartitionByRange(math.max(rewriteSegs.size, 1), ord)
        .sortWithinPartitions(ord)
        .withColumn("__part", spark_partition_id())
        .persist()
      try {
        val newSegs =
          writeClusteredSegments(laid, fs, tablePath, c, r.nextSeg)
        val inputSet = rewriteSegs.toSet
        val landed = commitWithRetry(fs, tablePath, c, r) { rr =>
          rr.liveSegs match {
            // the tag landing via ANOTHER writer (concurrent replay of
            // the same change batch) abandons this commit
            case _ if srcTag.exists(rr.seenTags.contains) => None
            case Some(nowLive) if inputSet.subsetOf(nowLive.toSet) &&
                !newSegs.exists(nowLive.contains) =>
              val out = newSegs ++ nowLive.filterNot(inputSet.contains)
              // a merge that deleted the last row leaves a defined
              // empty collection (an empty segment list is not a
              // valid pointer body; a tombstone cannot carry a tag)
              Some(if (out.isEmpty) Tombstone else segsContent(out, srcTag))
            case _ => None
          }
        }
        if (landed) {
          newSegs.foreach(releaseClaim(fs, tablePath, c, _))
          return true
        }
        // abandoned: drop the orphaned output either way
        newSegs.foreach { s =>
          try {
            fs.delete(segDir(tablePath, c, s), true)
            fs.delete(statsPath(tablePath, c, s), false)
          } catch { case _: java.io.IOException => () /* vacuum */ }
          releaseClaim(fs, tablePath, c, s)
        }
        // the tag having landed via a concurrent replay is a RESOLVED
        // outcome (the batch is applied — by the other writer);
        // anything else is a lost rewrite race: the snapshot we merged
        // against is gone — re-derive against the new one and retry
        if (srcTag.exists(resolve(fs, tablePath, c).seenTags.contains))
          return false
      } finally laid.unpersist()
    }
    throw new IllegalStateException(
      s"merge into '$c' lost $MaxCommitAttempts rewrite races " +
        "(concurrent compaction/merge storm?)")
  }

  /** [[mergeCollection]]'s exact-key prune refinement collects the
    * distinct touched keys to the driver; past this many, pruning
    * falls back to the batch's [min,max] bounds only (the set's
    * driver cost would otherwise grow with the batch). */
  private val MergeKeySetCap = 8192L

  /** First index `i` in sorted `xs` with `!(xs(i) < x)`. */
  private def lowerBound(xs: Array[Any], x: Any,
      lt: (Any, Any) => Boolean): Int = {
    var lo = 0; var hi = xs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (lt(xs(mid), x)) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Bound on claim bumps and commit retries under writer contention:
    * each failed attempt means some OTHER writer made progress (its
    * claim or pointer landed), so hitting the bound requires this many
    * concurrent commits to the same collection inside one call —
    * past it, failing loud beats spinning. */
  private val MaxCommitAttempts = 64

  /** Default [[vacuum]] age guard: directories younger than this are
    * never swept, protecting in-flight writers and recent readers.
    * The cutoff clock is STORE-observed, not the vacuum host's
    * (see [[storeNow]]), so writer/vacuum clock skew does not eat
    * into the margin. */
  val DefaultVacuumMinAgeMs: Long = 24L * 3600 * 1000

  /** Separate (longer) retention floor for TAGGED (`src=`) pointers:
    * they are [[storeBatch]]'s idempotency window, so sweeping them
    * early silently re-opens duplicate ingest on replay — a stream
    * down for longer than the general `minAgeMs` must still find its
    * tags. An operator who passes a small `minAgeMs` to reclaim data
    * space does NOT shrink this window unless they lower
    * `tagMinAgeMs` explicitly. */
  val DefaultTagRetentionMs: Long = 7L * 24 * 3600 * 1000

  private[sources] def fsOf(spark: SparkSession, tablePath: String): FileSystem =
    new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // Shared name⇄segment codec ([[PathNames]]): partition-value escape
  // plus traversal neutralization ('', '.', '..' can never become a
  // raw path segment under _manifest/).
  private def esc(c: String): String = PathNames.esc(c)
  private def unesc(s: String): String = PathNames.unesc(s)

  private def manifestDir(tablePath: String, c: String): Path =
    new Path(s"$tablePath/_manifest/${esc(c)}")

  private def collectionDir(tablePath: String, c: String): Path =
    new Path(s"$tablePath/collection=${esc(c)}")

  private def segName(seg: Long): String = f"seg=$seg%06d"

  private[sources] def segDir(tablePath: String, c: String, seg: Long): Path =
    new Path(collectionDir(tablePath, c), segName(seg))

  /** Pointer-resolution snapshot: the live segment list (None = absent
    * or tombstoned), the next free pointer sequence, and the next
    * unused segment number (one past anything ever referenced by a
    * valid pointer, so a crashed segment write is safely re-targeted).
    * `taggedSeqs` are the retained pointers carrying a `src=` tag —
    * [[vacuum]] holds them under the longer tag-retention floor;
    * `minRetainedSeq` is the oldest retained VALID pointer (0 when
    * none), the horizon below which [[readAsOf]] cannot resolve.
    * `maxInstant` is the newest retained commit instant (body `ts=`,
    * mtime fallback — [[instantOf]]'s rule over the same reads
    * this resolve already paid for): [[publish]] stamps its durable
    * instant ABOVE it without a second listing pass. */
  private[sources] final case class Resolved(
      liveSegs: Option[Seq[Long]], nextPtrSeq: Long, nextSeg: Long,
      decidedSeq: Long, seenTags: Set[String],
      taggedSeqs: Set[Long] = Set.empty, minRetainedSeq: Long = 0L,
      maxCommittedSeg: Long = 0L, maxInstant: Long = 0L)

  /** Full small-file read, DISTINGUISHING transient failure from
    * content: Left = the store could not serve the object (IO error —
    * says nothing about the commit), Right = the bytes as written
    * (possibly empty — an interrupted create's crash artifact). Loops
    * to EOF — a single read() may legally return a prefix, and a
    * short read must not truncate valid pointer content into
    * different-but-parseable content. */
  private def readPtrEither(fs: FileSystem, p: Path): Either[Unit, String] =
    try {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream(64)
        val buf = new Array[Byte](256)
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
        Right(new String(out.toByteArray, "UTF-8").trim)
      } finally in.close()
    } catch { case _: java.io.IOException => Left(()) }

  /** [[readPtrEither]] collapsed for the READ path: missing,
    * unreadable, or empty all resolve as "invalid pointer, fall back
    * to the previous commit" — conservative for readers. The
    * DESTRUCTIVE path ([[vacuum]]) must NOT use this: it has to tell
    * a transient error apart from invalid content before deleting
    * anything. */
  private def readPtr(fs: FileSystem, p: Path): Option[String] =
    readPtrEither(fs, p).toOption.filter(_.nonEmpty)

  /** PROCESS-LOCAL pointer-content cache, bounding the pointer-log
    * read amplification: [[resolveAt]] and [[listVersions]] open every
    * retained pointer body per call, which on an S3-class store is
    * O(versions) small-object GETs for every resolve / history /
    * versionAtTime — per CALL, where mtime used to be a free stat.
    * A pointer that ever parsed VALID is create-once immutable (the
    * commit protocol never rewrites one), so its content keyed by
    * (path, length, mtime) can never go stale — the FileStatus pair
    * guards the two mutate-in-place cases that do exist: a touched
    * pre-upgrade pointer (the documented mtime-skew recovery; mtime
    * changes → re-read) and a same-path re-creation after a full
    * manual wipe (length/mtime shift → re-read; identical bytes would
    * parse identically anyway). INVALID reads (empty / truncated) are
    * never cached — they may be a concurrent create's visibility
    * window and must retry fresh. Repeated resolution is then O(new
    * pointers), Delta's checkpoint effect without a second durable
    * artifact to keep consistent; a fresh process starts cold, which
    * is exactly the vacuum-race posture the raced spec pins. Bounded:
    * wholesale clear past [[PtrCacheMax]] entries (pointer bodies are
    * tens of bytes; the bound is belt-and-braces).
    *
    * Path REUSE after manifest retirement (a vacuumed-to-tombstone
    * log's dir is deleted and a resurrected collection re-creates
    * `ptr-000001`) cannot serve a dead body: this process's own
    * tombstone [[publish]] drops the collection's entries, and a
    * CROSS-process resurrection is covered by the (len, mtime)
    * validation — retirement itself is gated on sane pointer mtimes
    * (`vacuum` requires `mtime != 0 && mtime < floor`), so any store
    * where retirement can happen stamps fresh mtimes on recreated
    * files; a store with frozen mtimes can never retire a manifest in
    * the first place. Keys are scheme-stripped URI paths so the
    * tombstone invalidation prefix matches listStatus's
    * fully-qualified paths. */
  private val PtrCacheMax = 1 << 16
  private val ptrCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, String)]()

  /** Test hook: model a fresh reader process (the caches are per-JVM). */
  private[graft] def clearPtrCache(): Unit = {
    ptrCache.clear()
    segSchemaCache.clear()
  }

  private def readPtrCached(fs: FileSystem,
      st: org.apache.hadoop.fs.FileStatus): Option[String] = {
    val key = st.getPath.toUri.getPath
    val hit = ptrCache.get(key)
    if (hit != null && hit._1 == st.getLen &&
        hit._2 == st.getModificationTime) Some(hit._3)
    else {
      val content = readPtr(fs, st.getPath)
      content.foreach { cstr =>
        if (parseTombstone(cstr).isDefined || parseBody(cstr).isDefined) {
          if (ptrCache.size >= PtrCacheMax) ptrCache.clear()
          ptrCache.put(key, (st.getLen, st.getModificationTime, cstr))
        }
      }
      content
    }
  }

  /** Commit-content terminator: a pointer is valid ONLY when its full
    * content survived the crash — a prefix of a longer segment list
    * ("segs:0000" from "segs:000001,...") would otherwise PARSE to a
    * wrong-but-plausible list. Tombstones are exact-match, so they
    * need no terminator. (Format v2; neither the short-lived v1 "gen-"
    * format nor the terminator-less `segs:` interim ever shipped
    * outside this repo's own test fixtures — unrecognized content is
    * simply an invalid pointer, there is no migration path to carry.) */
  private val SegsSuffix = ";end"

  /** `segs:000001,000003;end`, `segs:000001;src=batch-7;end`, or (with
    * the durable commit instant) `segs:000001;ts=1755360000123;end` /
    * `segs:000001;ts=...;src=batch-7;end` →
    * Some((segments, provenance tag, commit instant)); anything
    * malformed or truncated → None (an invalid pointer; fall back to
    * the previous one — a garbled `ts=` must invalidate the POINTER,
    * not silently misdate the commit). The optional `src=` tag records
    * WHICH ingest produced a commit — the idempotency key for
    * at-least-once replays ([[storeBatch]]). Field order is fixed
    * (`ts` before `src`) so the free-form tag can never be confused
    * with the instant: everything left of `;src=` is digits, commas,
    * and the literal `;ts=`. Pre-upgrade pointers simply have no `ts`
    * field; [[instantOf]] falls back to their file mtime. */
  private def parseBody(
      content: String): Option[(Seq[Long], Option[String], Option[Long])] =
    if (!content.startsWith(SegsPrefix) || !content.endsWith(SegsSuffix)) None
    else {
      val body = content.stripPrefix(SegsPrefix).stripSuffix(SegsSuffix)
      val (head, tag) = body.indexOf(";src=") match {
        case -1 => (body, None)
        case i => (body.substring(0, i), Some(body.substring(i + 5)))
      }
      val (listPart, ts) = head.indexOf(";ts=") match {
        case -1 => (head, None)
        case i => (head.substring(0, i),
          Some(head.substring(i + 4)).map(_.toLongOption))
      }
      val parts = listPart.split(",").toSeq
      val nums = parts.flatMap(_.trim.toLongOption)
      if (nums.nonEmpty && nums.length == parts.length &&
          !ts.contains(None))
        Some((nums, tag.filter(_.nonEmpty), ts.flatten))
      else None
    }

  /** Valid-tombstone parse: Some(instant?) for the bare pre-upgrade
    * marker (`tombstone`, no instant) or the instant-carrying form
    * (`tombstone;ts=<ms>;end` — terminated, because a tombstone whose
    * `ts` digits were crash-truncated would otherwise PARSE to a
    * wrong-but-plausible instant; the bare form needs no terminator,
    * any truncation of it is unrecognized). None = not a tombstone.
    * The ONE tombstone-recognition rule — [[resolveAt]] and
    * [[listVersions]] both read through it, so a truncated pointer is
    * invalid to BOTH (skipped, previous commit stays live), never
    * tombstone-to-one-reader. */
  private def parseTombstone(content: String): Option[Option[Long]] =
    if (content == Tombstone) Some(None)
    else if (content.startsWith(Tombstone + ";ts=") &&
        content.endsWith(SegsSuffix))
      content.stripPrefix(Tombstone + ";ts=").stripSuffix(SegsSuffix)
        .toLongOption.map(Some(_))
    else None

  /** THE commit-instant rule, shared by every reader ([[resolveAt]]'s
    * `maxInstant`, [[listVersions]]' per-version `instantMs` — which
    * [[history]] and [[versionAtTime]] read — and through them the
    * stamp itself): the `ts=` field the pointer body carries since the
    * durable-instant upgrade; a PRE-UPGRADE pointer (no field) falls
    * back to its file mtime — the old axis, still monotone where it
    * was written because publish used to setTimes-adjust it. An
    * invalid pointer has no instant at all (it is not a version
    * either). One definition: if the instant's source ever changes,
    * every face moves together or DESCRIBE HISTORY's labels stop
    * resolving to the versions they name. */
  private def instantOf(tomb: Option[Option[Long]],
      body: Option[(Seq[Long], Option[String], Option[Long])],
      mtime: Long): Option[Long] =
    if (tomb.isDefined) Some(tomb.flatten.getOrElse(mtime))
    else body.map(_._3.getOrElse(mtime))

  private[sources] def resolve(fs: FileSystem, tablePath: String,
      c: String): Resolved = resolveAt(fs, tablePath, c, Long.MaxValue)

  /** [[resolve]] with a snapshot ceiling: the LIVE list is decided by
    * the newest valid pointer with seq <= `asOfSeq` (the state the
    * collection was in just after commit `asOfSeq`), while the writer
    * fields (`nextPtrSeq`/`nextSeg`) always come from the FULL log —
    * a snapshot reader must never influence commit numbering. */
  private[sources] def resolveAt(fs: FileSystem, tablePath: String,
      c: String, asOfSeq: Long): Resolved = {
    val dir = manifestDir(tablePath, c)
    if (!fs.exists(dir)) return Resolved(None, 1L, 1L, 0L, Set.empty)
    val entries = fs.listStatus(dir).toSeq
    val ptrs = entries
      .filter(_.getPath.getName.startsWith(PtrPrefix))
      .flatMap(st => st.getPath.getName.stripPrefix(PtrPrefix)
        .toLongOption.map(_ -> st))
      .sortBy(-_._1)
    // live claims push the segment-number fast start past in-flight
    // writers' numbers, so the claim loop usually lands first try
    val maxClaim = entries
      .filter(_.getPath.getName.startsWith(ClaimPrefix))
      .flatMap(_.getPath.getName.stripPrefix(ClaimPrefix).toLongOption)
      .maxOption.getOrElse(0L)
    // resolution parses every retained pointer (maxSeg needs them all
    // for crash-safe segment numbering), but actual OPENS are bounded
    // by [[readPtrCached]] — O(new pointers) per call after the first;
    // [[vacuum]] prunes superseded pointers so even a cold resolve
    // stays bounded by the vacuum cadence, not total commit history
    // ONE parse per pointer: (seq, tombstone?, parsed body, stamp
    // floor). The floor feeds ONLY Resolved.maxInstant (the writer
    // side of the durable stamp): body instants are protocol-trusted
    // verbatim (two live writers' clock skew must keep stamping
    // strictly upward), but the pre-upgrade MTIME fallback is capped
    // at now + [[MaxFallbackSkewMs]] — one garbage far-future mtime
    // (clock-skewed old writer, timestamps preserved by a copy tool)
    // must not bake `bogus + 1` into every future pointer body
    // forever. The READ axis ([[listVersions]]) keeps the raw
    // fallback, so such a pathological pre-upgrade pointer reads as a
    // non-monotone mixed log (addressable only by instants ≥ its
    // mtime) instead of poisoning all future stamps — recoverable by
    // touching the one file, where poisoned bodies would be
    // immutable.
    val mtimeCap = System.currentTimeMillis() + MaxFallbackSkewMs
    val parsed = ptrs.map { case (seq, st) =>
      val content = readPtrCached(fs, st)
      val tomb = content.flatMap(parseTombstone)
      val body = content.flatMap(parseBody)
      val bodyTs = if (tomb.isDefined) tomb.flatten else body.flatMap(_._3)
      val floor = bodyTs.orElse(
        if (tomb.isDefined || body.isDefined)
          Some(math.min(st.getModificationTime, mtimeCap))
        else None)
      (seq, tomb.isDefined, body, floor)
    }
    // newest pointer (under the ceiling) with VALID content decides;
    // invalid ones (crash mid-create) are skipped — the previous
    // commit stays live
    val decided = parsed.iterator.collectFirst {
      case (seq, true, _, _) if seq <= asOfSeq => seq -> None
      case (seq, _, Some((segs, _, _)), _) if seq <= asOfSeq =>
        seq -> Some(segs)
    }
    val maxSeq = ptrs.headOption.map(_._1).getOrElse(0L)
    val bodies = parsed.flatMap(_._3)
    val maxSeg = bodies.flatMap(_._1).maxOption.getOrElse(0L)
    val valid = parsed.collect {
      case (seq, true, _, _) => seq
      case (seq, _, Some(_), _) => seq
    }
    Resolved(decided.flatMap(_._2), maxSeq + 1,
      math.max(maxSeg, maxClaim) + 1,
      decided.map(_._1).getOrElse(0L), bodies.flatMap(_._2).toSet,
      parsed.collect {
        case (seq, _, Some((_, Some(_), _)), _) => seq }.toSet,
      valid.minOption.getOrElse(0L), maxSeg,
      parsed.flatMap(_._4).maxOption.getOrElse(0L))
  }

  /** Publish one commit: create-once, no overwrite — the atomicity
    * primitive, and the optimistic lock against a racing writer on the
    * same sequence. The required FS capability is ATOMIC
    * create-no-overwrite: HDFS/POSIX have it natively; S3 via Hadoop
    * 3.4.1+ with `fs.s3a.create.conditional` (conditional PUT). On an
    * S3A without conditional create, create(overwrite=false) is a
    * non-atomic exists-then-PUT, so COMMIT races between two
    * *concurrent writers* additionally rely on the documented
    * single-writer-per-collection contract; crash atomicity (a pointer
    * is visible in full or not at all) holds on any object store
    * regardless. */
  private def publish(fs: FileSystem, tablePath: String, c: String,
      seq: Long, content: String, prevInstant: Long): Unit = {
    val dir = manifestDir(tablePath, c)
    fs.mkdirs(dir)
    val p = new Path(dir, f"$PtrPrefix$seq%06d")
    createExclusive(fs, p,
      stampInstant(content, prevInstant).getBytes("UTF-8"))
    // a tombstone ends the collection's layout lineage: drop the
    // advisory z-state HERE, centrally, because a log vacuumed down to
    // a bare tombstone restarts segment NUMBERING at 1 — a stale state
    // would then mark recreated segments "already clustered" forever,
    // which is the one way the advisory sidecar could cost more than
    // re-clustering work (best-effort: a failed delete re-opens that
    // window only until the next z-order rewrites the state)
    if (content == Tombstone) {
      try { fs.delete(zStatePath(tablePath, c), false); () }
      catch { case _: java.io.IOException => () }
      // in-process cache hygiene: after retirement (vacuum deletes the
      // whole manifest dir) a recreated collection REUSES ptr and seg
      // paths — this writer must not validate or resolve against its
      // own dead entries. Cross-process reuse is covered by the
      // (len, mtime) validation / write-time seeding, see the cache
      // docs.
      val mPrefix = manifestDir(tablePath, c).toUri.getPath + "/"
      val cPrefix = collectionDir(tablePath, c).toUri.getPath + "/"
      ptrCache.keySet.removeIf(_.startsWith(mPrefix))
      segSchemaCache.keySet.removeIf(_.startsWith(cPrefix))
    }
  }

  /** DURABLE commit instant, written IN the pointer body at publish —
    * the field [[instantOf]]'s readers hand back, replacing the
    * filesystem-mtime axis (Delta's commit-ts adjustment needed
    * `setTimes`, which S3-class stores lack; a value inside the
    * atomically-created pointer needs nothing from the store). The
    * instant is `max(now, newest retained instant + 1)`, so
    * SERIALIZED commits come out strictly increasing on ANY
    * filesystem — even one whose mtimes are garbage — while RACED
    * commits can still TIE (each racer bumps over the prefix it
    * observed) but cannot invert; [[versionAtTime]]'s newest-seq
    * tie-break resolves a tied instant to the newest commit carrying
    * it, Delta's own same-timestamp rule. A
    * pre-upgrade pointer simply lacks the field and keeps its mtime
    * axis ([[instantOf]]'s fallback); the first post-upgrade
    * commit stamps above those mtimes, so the MIXED log stays
    * monotone. `prevInstant` is the resolve-time [[Resolved.maxInstant]]
    * the committer already paid for — the stamp costs no extra
    * listing or pointer reads of its own.
    *
    * Body instants are protocol-trusted verbatim (Delta's
    * in-commit-timestamp shares this), which makes one far-future
    * writer clock UNRECOVERABLE where the mtime fallback's cap makes
    * the same skew fixable by touching one file: a bogus instant baked
    * into an immutable body pins every later commit to `bogus + 1`
    * forever. Can't cap it (a cap would let two honest-but-skewed
    * writers invert), but it IS detectable at the first affected
    * commit: `now` lagging the newest retained instant by more than
    * the [[MaxFallbackSkewMs]] class of skew means either this clock
    * or a previous committer's was wrong by at least that much — warn
    * loud so a poisoned axis is seen when it starts, not rounds later
    * when time travel resolves nonsense. */
  private def stampInstant(content: String, prevInstant: Long): String = {
    val now = System.currentTimeMillis()
    if (prevInstant - now > MaxFallbackSkewMs)
      System.err.println(
        s"GRAFT WARN: commit instant axis skewed — newest retained " +
          s"instant $prevInstant sits ${prevInstant - now} ms ahead of " +
          s"this writer's clock $now (> ${MaxFallbackSkewMs} ms): a " +
          "previous committer's far-future clock (or this one's slow " +
          "clock) has pinned the durable instant axis; new commits " +
          "stamp prev+1 and stay monotone, but versionAtTime/history " +
          "resolution against wall-clock timestamps will be off until " +
          "the skew source is fixed")
    val i = math.max(now, prevInstant + 1L)
    if (content == Tombstone) s"$Tombstone;ts=$i$SegsSuffix"
    else if (content.startsWith(SegsPrefix) &&
        content.endsWith(SegsSuffix)) {
      val body = content.stripPrefix(SegsPrefix).stripSuffix(SegsSuffix)
      val (list, rest) = body.indexOf(";src=") match {
        case -1 => (body, "")
        case at => (body.substring(0, at), body.substring(at))
      }
      s"$SegsPrefix$list;ts=$i$rest$SegsSuffix"
    } else content
  }

  /** The protocol's create-no-overwrite primitive, made ATOMIC on the
    * local scheme: Hadoop's RawLocalFileSystem implements
    * `create(overwrite = false)` as a non-atomic exists-then-open, so
    * two racers could BOTH win the claim/pointer race the whole commit
    * protocol keys on (caught by the raced `claimSegs` spec) — route
    * `file://` through java.nio `createFile` (O_EXCL, atomic on
    * POSIX). Every other scheme keeps the FileSystem call (HDFS create
    * is atomic-exclusive; S3A needs conditional create, see the
    * [[publish]] contract note). Content lands in a separate write
    * after the exclusive create — the visibility window where the file
    * exists empty is identical to `fs.create`'s (the file is visible
    * from create() onward), and an empty/partial pointer is already a
    * defined crash artifact (invalid → previous commit stays live).
    * Throws FileAlreadyExistsException (an IOException) when the path
    * exists — same contract as `fs.create(p, false)`. */
  private def createExclusive(fs: FileSystem, p: Path,
      content: Array[Byte]): Unit =
    if (fs.getUri.getScheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.createFile(local) // O_EXCL
      try java.nio.file.Files.write(local, content)
      catch {
        case e: java.io.IOException =>
          // a claim/pointer we could not fill must not stay claimed
          try java.nio.file.Files.deleteIfExists(local)
          catch { case _: java.io.IOException => () }
          throw e
      }
    } else {
      val out = fs.create(p, false)
      try out.write(content) finally out.close()
    }

  private def segsContent(segs: Seq[Long], srcTag: Option[String] = None): String =
    segs.map(s => f"$s%06d")
      .mkString(SegsPrefix, ",", srcTag.fold("")(t => s";src=$t") + SegsSuffix)

  /** Atomic create-once INTENT marker for the SQL write face's
    * `ErrorIfExists`/`Ignore` modes — the same create-no-overwrite
    * primitive as pointer commits ([[createExclusive]]), applied to a
    * per-collection `created` file so "who creates this collection" is
    * decided by the filesystem, not by an exists-then-append window two
    * racers can both pass. Returns true iff THIS caller won; false on
    * an existing marker (a racing or earlier creator won). The marker
    * records INTENT and is never deleted — a create that crashed after
    * winning leaves it behind, and a retry must use mode=append (the
    * documented recovery, same as a half-finished claim). Collections
    * created through the imperative faces ([[store]]/[[storeBatch]])
    * carry no marker; the write face's prior existence check covers
    * them. */
  private[sources] def claimCreateOnce(fs: FileSystem, tablePath: String,
      c: String): Boolean = {
    val dir = manifestDir(tablePath, c)
    fs.mkdirs(dir)
    val marker = new Path(dir, "created")
    try {
      createExclusive(fs, marker, Array('c'.toByte))
      true
    } catch {
      case e: java.io.IOException =>
        // Only an EXISTING marker means "lost the race" — a genuine
        // filesystem failure (full disk, permissions) must surface, not
        // turn into a misleading "already exists" / silent Ignore no-op.
        // Re-probe rather than match exception types: the local face
        // throws nio FileAlreadyExistsException, the Hadoop face its own.
        if (fs.exists(marker)) false else throw e
    }
  }

  /** Atomically CLAIM a segment number >= `from` before writing any
    * data into it: create-no-overwrite on `claim-<n>` — the same FS
    * primitive as the pointer lock, applied one step earlier. Without
    * it, two racing writers resolve the same `nextSeg` and both write
    * the same segment directory; the pointer race then decides a
    * winner whose committed directory may hold the LOSER's bytes.
    * An existing claim (concurrent or crashed writer) bumps to the
    * next number — segment numbering may skip, which is fine because
    * pointers name their segments explicitly. Claims are retired
    * best-effort after commit and swept by [[vacuum]].
    *
    * STALE-`from` GUARD: `from` comes from a [[resolve]] that may
    * predate another writer's claim→write→commit→release of the very
    * number we are about to take — once its claim file is deleted, the
    * number's retirement is recorded ONLY in the pointer log, and
    * re-claiming it would let this writer OVERWRITE a committed
    * segment (then orphan or destroy it on its own commit/abandon).
    * So a successful claim-create is verified against a FRESH resolve:
    * every commit publishes its pointer BEFORE releasing its claim, so
    * any committed `n` is guaranteed visible to a resolve that runs
    * after our create succeeded (the create could only succeed after
    * the release, which followed the publish). A claim at or below the
    * committed max is released and re-targeted past it.
    * (`private[graft]` so the spec can drive the stale-`from`
    * interleaving deterministically — the race window is internal to
    * one public call, between its resolve and its claim.) */
  private[graft] def claimSeg(fs: FileSystem, tablePath: String, c: String,
      from: Long): Long =
    claimSegs(fs, tablePath, c, from, 1).head

  /** Batch [[claimSeg]]: claim `count` distinct numbers >= `from`
    * (ascending), paying the stale-`from` guard's full pointer-log
    * resolve ONCE per batch rather than once per number — an
    * N-segment clustered write resolves once, not N+1 times (on an
    * object store with a long pointer log between vacuums the
    * per-claim resolve dominated commit latency). Soundness is
    * unchanged: the verify resolve runs AFTER every claim-create in
    * the batch succeeded, and every commit publishes its pointer
    * BEFORE releasing its claim, so any number committed-and-released
    * before one of our creates is visible to that resolve. Numbers at
    * or below the committed max are released and replaced past it;
    * replacements created after the resolve get their own verify on
    * the next loop pass (the uncontended case returns on the first). */
  private[graft] def claimSegs(fs: FileSystem, tablePath: String, c: String,
      from: Long, count: Int): Seq[Long] = {
    require(count > 0, s"claimSegs needs a positive count, got $count")
    val dir = manifestDir(tablePath, c)
    fs.mkdirs(dir)
    def create(n: Long): Boolean =
      try {
        createExclusive(fs, new Path(dir, f"$ClaimPrefix$n%06d"),
          Array('c'.toByte))
        true
      } catch { case _: java.io.IOException => false }
    val held = scala.collection.mutable.ArrayBuffer.empty[Long]
    var n = from
    var attempts = 0
    var rounds = 0
    while (rounds < MaxCommitAttempts) {
      rounds += 1
      while (held.size < count && attempts < MaxCommitAttempts) {
        // a failed create means taken (or transient error — bumping
        // past is safe either way: skipped numbers are never
        // resurrected, see [[vacuum]])
        if (create(n)) held += n else attempts += 1
        n += 1
      }
      if (held.size == count) {
        // ONE resolve verifies the whole batch. A held number at or
        // below the committed max is given back and replaced past the
        // max (conservative: a commit of a HIGHER number also retires
        // lower held claims — wasting a number is always safe because
        // pointers name their segments explicitly).
        val committedMax = resolve(fs, tablePath, c).maxCommittedSeg
        val (stale, fresh) = held.partition(_ <= committedMax)
        if (stale.isEmpty) return held.toSeq
        stale.foreach(releaseClaim(fs, tablePath, c, _))
        held.clear(); held ++= fresh
        n = math.max(n, committedMax + 1)
      }
    }
    held.foreach(releaseClaim(fs, tablePath, c, _))
    throw new IllegalStateException(
      s"could not claim $count segment number(s) for '$c' after " +
        s"$MaxCommitAttempts attempts (extreme writer contention?)")
  }

  private def releaseClaim(fs: FileSystem, tablePath: String, c: String,
      seg: Long): Unit =
    try fs.delete(new Path(manifestDir(tablePath, c),
      f"$ClaimPrefix$seg%06d"), false)
    catch { case _: java.io.IOException => () /* vacuum sweeps it */ }

  /** Publish with OPTIMISTIC-LOCK RETRY — the writer half of the
    * multi-writer commit protocol. `contentFor` derives the commit
    * content from a fresh [[Resolved]] snapshot (or None to abandon
    * the commit — e.g. the idempotency tag landed via another writer,
    * or a concurrent commit made this one moot). A successful
    * create-no-overwrite at `nextPtrSeq` PROVES no commit intervened
    * since that snapshot: any later commit would have consumed exactly
    * the sequence this writer targets (sequences are dense — every
    * writer targets maxSeq+1), so the loser's create throws and the
    * loop re-resolves against the winner's state and recomputes.
    * Returns true iff THIS writer's commit published. */
  private def commitWithRetry(fs: FileSystem, tablePath: String, c: String,
      first: Resolved)(contentFor: Resolved => Option[String]): Boolean = {
    var r = first
    var attempts = 0
    while (true) {
      contentFor(r) match {
        case None => return false
        case Some(content) =>
          try {
            publish(fs, tablePath, c, r.nextPtrSeq, content, r.maxInstant)
            return true
          } catch {
            case e: java.io.IOException =>
              attempts += 1
              if (attempts >= MaxCommitAttempts)
                throw new IllegalStateException(
                  s"commit of '$c' lost $MaxCommitAttempts pointer races " +
                    "(extreme writer contention?)", e)
              // tiny jittered backoff so two symmetric losers don't
              // lockstep; then re-resolve against the winner's state
              Thread.sleep(1L + scala.util.Random.nextInt(8).toLong)
              r = resolve(fs, tablePath, c)
          }
      }
    }
    false // unreachable
  }

  /** Collections with a manifest (live or tombstoned). Directory
    * names are unescaped back to the user's collection names. */
  def listCollections(spark: SparkSession, tablePath: String): Seq[String] = {
    val fs = fsOf(spark, tablePath)
    val base = new Path(s"$tablePath/_manifest")
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq.filter(_.isDirectory)
      .map(st => unesc(st.getPath.getName)).sorted
  }

  /** Live segment numbers of a collection, if any. */
  def currentSegments(spark: SparkSession, tablePath: String,
      c: String): Option[Seq[Long]] =
    resolve(fsOf(spark, tablePath), tablePath, c).liveSegs

  /** One retained, valid commit of a collection's pointer log:
    * `segs` is the full live segment list as of this commit (empty for
    * a tombstone), `srcTag` the [[storeBatch]] provenance tag if the
    * commit carried one, `instantMs` the commit instant under
    * [[instantOf]]'s one rule (durable body `ts=`, mtime fallback for
    * pre-upgrade pointers) — carried here so [[history]] and
    * [[versionAtTime]] resolve versions AND instants from ONE listing
    * pass over one snapshot. */
  final case class VersionInfo(ptrSeq: Long, tombstone: Boolean,
      segs: Seq[Long], srcTag: Option[String], instantMs: Long = 0L)

  /** The RETAINED version history of a collection, oldest first — the
    * pointer log read back as data. Every entry is addressable by
    * [[readAsOf]]/[[readSince]] until [[vacuum]] prunes it (the
    * pointer log IS the history; vacuum's age bound is the retention
    * contract, exactly like Delta/Iceberg time travel). Invalid
    * (crash-truncated) pointers are not versions and are skipped. */
  def listVersions(spark: SparkSession, tablePath: String,
      c: String): Seq[VersionInfo] = {
    val fs = fsOf(spark, tablePath)
    val dir = manifestDir(tablePath, c)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.startsWith(PtrPrefix))
      .flatMap(st => st.getPath.getName.stripPrefix(PtrPrefix)
        .toLongOption.map(_ -> st))
      .sortBy(_._1)
      .flatMap { case (seq, st) =>
        readPtrCached(fs, st).flatMap { content =>
          val tomb = parseTombstone(content)
          val body = parseBody(content)
          instantOf(tomb, body, st.getModificationTime).map { i =>
            if (tomb.isDefined)
              VersionInfo(seq, tombstone = true, Seq.empty, None, i)
            else {
              val (segs, tag, _) = body.get
              VersionInfo(seq, tombstone = false, segs, tag, i)
            }
          }
        }
      }
  }

  /** DESCRIBE HISTORY — the retained pointer log as a queryable
    * DataFrame (Delta's `DESCRIBE HISTORY` analogue), oldest first.
    * The log records STATE (each commit's full live segment list),
    * not operations, so `op` is derived from consecutive state
    * deltas — an honest classification, not a recorded intent:
    *   - `create`    first retained commit of the collection
    *   - `append`    segments only added
    *   - `rewrite`   segments added AND removed (merge / compaction /
    *                 z-order — indistinguishable from state alone)
    *   - `shrink`    segments only removed (merge-to-fewer, tag-only
    *                 no-op merges also land here when the list shrank)
    *   - `restore`   exact republish of an EARLIER retained list
    *                 ([[restoreVersion]]); a restore of the current
    *                 version (the explicit audit marker) classifies
    *                 here too via its predecessor match
    *   - `tombstone` the delete marker
    * `commit_ts_ms` is the DURABLE instant the pointer body carries
    * ([[stampInstant]] writes it at publish; [[instantOf]] reads it
    * back through [[listVersions]], falling back to file mtime for
    * pre-upgrade pointers) — wall-clock metadata, not part of the
    * commit protocol, monotone in commit order on ANY filesystem
    * because the stamp, not the store, enforces it; it is also the
    * axis [[versionAtTime]] resolves timestamp time travel against.
    * Driver-side by design: the pointer log is retained metadata,
    * bounded by vacuum's retention, and is already read driver-side
    * by every [[resolve]] — and versions + instants come from the
    * ONE listVersions pass, so no second listing can disagree with
    * the first. */
  def history(spark: SparkSession, tablePath: String,
      c: String): DataFrame = {
    val versions = listVersions(spark, tablePath, c)
    val seen = scala.collection.mutable.Set.empty[Seq[Long]]
    val rows = versions.zipWithIndex.map { case (v, i) =>
      val prev = if (i == 0) None else Some(versions(i - 1))
      val prevSegs = prev.map(_.segs.toSet).getOrElse(Set.empty[Long])
      val added = v.segs.filterNot(prevSegs)
      val removed = prevSegs.toSeq.filterNot(v.segs.toSet).sorted
      val op =
        if (v.tombstone) "tombstone"
        else if (prev.isEmpty) "create"
        else if (seen.contains(v.segs)) "restore"
        else if (added.nonEmpty && removed.nonEmpty) "rewrite"
        else if (added.nonEmpty) "append"
        else "shrink"
      if (!v.tombstone) seen += v.segs
      (v.ptrSeq, op, v.segs.size, added, removed,
        v.srcTag.orNull, v.instantMs)
    }
    spark.createDataFrame(rows).toDF("ptr_seq", "op", "n_live",
      "added_segs", "removed_segs", "src_tag", "commit_ts_ms")
  }

  /** SNAPSHOT READ: the collection as it stood just after pointer
    * `asOfPtrSeq` — the newest valid commit at-or-below that sequence
    * decides (so an interrupted commit at exactly `asOfPtrSeq`
    * resolves to its predecessor, the same rule live reads follow).
    * This is what pins a training corpus to a version: a train/test
    * split or an index build that records the pointer sequence
    * ([[currentPtrSeq]]) can be re-run bit-identically while ingest
    * moves the live pointer on.
    *
    * THROWS when the snapshot is not resolvable: `asOfPtrSeq` below
    * the oldest retained pointer (either the history was
    * [[vacuum]]ed — whose age bound is the retention contract, a
    * snapshot older than the guard may be swept, exactly Delta's
    * time-travel contract — or the collection did not exist yet; the
    * two are indistinguishable from a pruned log, and a versioned
    * read must not silently return something else). A resolvable
    * tombstone reads as a defined empty frame. */
  def readAsOf(spark: SparkSession, tablePath: String, c: String,
      asOfPtrSeq: Long): DataFrame = {
    val fs = fsOf(spark, tablePath)
    val r = resolveAt(fs, tablePath, c, asOfPtrSeq)
    require(r.decidedSeq > 0L,
      s"snapshot $asOfPtrSeq of collection '$c' is not resolvable: " +
        (if (r.minRetainedSeq > 0L)
          s"oldest retained commit is ${r.minRetainedSeq} (earlier " +
            "history was vacuumed or never existed)"
        else "the collection has no committed history"))
    readSegs(spark, tablePath, c, r.liveSegs.toSeq.flatten)
  }

  /** TIMESTAMP → VERSION resolution (Delta's `TIMESTAMP AS OF`
    * analogue): the NEWEST valid retained commit whose `commit_ts_ms`
    * ([[instantOf]] via [[listVersions]] — the durable instant in the pointer body,
    * mtime fallback for pre-upgrade pointers) is <= `tsMs`. Contract
    * mirrors [[readAsOf]]'s version ceiling:
    *   - `tsMs` at or beyond the latest commit's ts → the latest
    *     version (a ceiling, not an error);
    *   - `tsMs` before the oldest RETAINED commit's ts → throws (the
    *     history was [[vacuum]]ed or the collection did not exist yet —
    *     indistinguishable from a pruned log, and a timestamped read
    *     must not silently serve something else);
    *   - a tombstone commit is addressable and reads as a defined
    *     empty frame downstream, exactly like [[readAsOf]].
    * Pre-upgrade pointers keep the raw-mtime caveat; the newest-seq
    * rule keeps resolution deterministic even if those are
    * non-monotone. Versions and instants come from the ONE
    * [[listVersions]] pass; a [[vacuum]] RACING this resolution
    * (pruning a pointer between that pass's listing and its content
    * read) degrades CONSERVATIVELY: the vacuumed pointer's read fails,
    * the version drops out of the candidate set, and resolution lands
    * on a newer retained commit or fails loud at the horizon — never a
    * silent serve of a misdated version (spec-pinned with a
    * delete-on-list fixture). */
  def versionAtTime(spark: SparkSession, tablePath: String, c: String,
      tsMs: Long): Long = {
    val versions = listVersions(spark, tablePath, c)
    require(versions.nonEmpty,
      s"collection '$c' has no committed history to resolve " +
        s"timestamp $tsMs against")
    val hits = versions.filter(_.instantMs <= tsMs).map(_.ptrSeq)
    require(hits.nonEmpty,
      s"timestamp $tsMs is before the oldest retained commit of " +
        s"collection '$c' (commit ${versions.head.ptrSeq} at " +
        s"${versions.head.instantMs}; earlier " +
        "history was vacuumed or never existed)")
    hits.max
  }

  /** [[readAsOf]] addressed by wall-clock timestamp (epoch millis) —
    * [[versionAtTime]]'s resolution, then the ordinary version
    * snapshot. The chunk-schema face; [[readAsOfTimeInferred]] is the
    * generalized-table twin. */
  def readAsOfTime(spark: SparkSession, tablePath: String, c: String,
      tsMs: Long): DataFrame =
    readAsOf(spark, tablePath, c, versionAtTime(spark, tablePath, c, tsMs))

  /** [[readAsOfInferred]] addressed by wall-clock timestamp — see
    * [[versionAtTime]] for the resolution contract. */
  def readAsOfTimeInferred(spark: SparkSession, tablePath: String,
      c: String, tsMs: Long): DataFrame =
    readAsOfInferred(spark, tablePath, c,
      versionAtTime(spark, tablePath, c, tsMs))

  /** [[readSince]] addressed by wall-clock timestamp (Delta's
    * `startingTimestamp` analogue): the change feed from the snapshot
    * the instant addresses — rows live now that were not live at
    * [[versionAtTime]]'s resolved commit. Same resolution contract,
    * same compaction/tombstone caveats as [[readSince]]. */
  def readSinceTime(spark: SparkSession, tablePath: String, c: String,
      tsMs: Long): DataFrame =
    readSince(spark, tablePath, c, versionAtTime(spark, tablePath, c, tsMs))

  /** [[readSinceInferred]] addressed by wall-clock timestamp — the
    * generalized-table twin of [[readSinceTime]]. */
  def readSinceTimeInferred(spark: SparkSession, tablePath: String,
      c: String, tsMs: Long): DataFrame =
    readSinceInferred(spark, tablePath, c,
      versionAtTime(spark, tablePath, c, tsMs))

  /** [[readAsOf]] with the segments' OWN (inferred, merged) schema —
    * for generalized (e.g. time-series) manifest tables whose columns
    * are not the chunk contract; the chunk-schema variant would
    * project them away (or fail). Same resolvability contract. */
  def readAsOfInferred(spark: SparkSession, tablePath: String, c: String,
      asOfPtrSeq: Long): DataFrame = {
    val fs = fsOf(spark, tablePath)
    val r = resolveAt(fs, tablePath, c, asOfPtrSeq)
    require(r.decidedSeq > 0L,
      s"snapshot $asOfPtrSeq of collection '$c' is not resolvable")
    val segs = r.liveSegs.toSeq.flatten
    readSegsInferred(spark, tablePath, c, segs, segs)
  }

  /** [[readSince]] with the segments' OWN (inferred, merged) schema —
    * the change feed for generalized manifest tables (incremental
    * aggregate/index maintenance consumes THIS, not a full rescan).
    * Same semantics and caveats as [[readSince]]. */
  def readSinceInferred(spark: SparkSession, tablePath: String, c: String,
      sincePtrSeq: Long): DataFrame = {
    val fs = fsOf(spark, tablePath)
    val now = resolve(fs, tablePath, c)
    val base = if (sincePtrSeq == 0L) Set.empty[Long]
    else {
      val r = resolveAt(fs, tablePath, c, sincePtrSeq)
      require(r.decidedSeq > 0L,
        s"change-feed anchor $sincePtrSeq of collection '$c' is not " +
          s"resolvable: oldest retained commit is ${r.minRetainedSeq}; " +
          "re-bootstrap from a full read")
      r.liveSegs.toSeq.flatten.toSet
    }
    val live = now.liveSegs.toSeq.flatten
    readSegsInferred(spark, tablePath, c, live.filterNot(base), live)
  }

  /** SNAPSHOT DIFF between two retained versions — the audit query the
    * version log exists to answer ("what did that merge/compaction
    * actually change?"): keys present only at `fromSeq` are `deleted`,
    * only at `toSeq` `inserted`, present in both with any differing
    * non-key column `updated`; unchanged keys are omitted. Pure
    * full-outer join of the two snapshot reads (each zone-map-backed
    * and segment-pruned like any read); comparison is null-safe via
    * the eqNullSafe conjunction over the shared non-key columns. */
  def diffVersions(spark: SparkSession, tablePath: String, c: String,
      fromSeq: Long, toSeq: Long, key: String = "doc_id"): DataFrame = {
    val a = readAsOfInferred(spark, tablePath, c, fromSeq).drop("collection")
    val b = readAsOfInferred(spark, tablePath, c, toSeq).drop("collection")
    val cols = a.columns.toSeq.intersect(b.columns.toSeq).filterNot(_ == key)
    val af = a.select(col(key) +: cols.map(n => col(n).as(s"a_$n")): _*)
      .withColumn("in_a", lit(true))
    val bf = b.select(col(key) +: cols.map(n => col(n).as(s"b_$n")): _*)
      .withColumn("in_b", lit(true))
    val same = cols.map(n => col(s"a_$n") <=> col(s"b_$n"))
      .foldLeft(lit(true))(_ && _)
    af.join(bf, Seq(key), "full_outer")
      .withColumn("change_type",
        when(col("in_a").isNull, lit("inserted"))
          .when(col("in_b").isNull, lit("deleted"))
          .when(!same, lit("updated")))
      .where(col("change_type").isNotNull)
      .select(col(key), col("change_type"))
      .orderBy(key)
  }

  /** RESTORE — rollback-as-a-new-commit (Delta's `RESTORE TABLE ...
    * VERSION AS OF`): republish the segment list the collection had
    * just after pointer `toPtrSeq` as a NEW commit at the head of the
    * log. Nothing is deleted and history is preserved — the
    * rolled-back commits stay addressable via [[readAsOf]] until
    * [[vacuum]]'s retention prunes them — which is what makes restore
    * safe under concurrent readers: the live pointer moves to an older
    * list, in-flight snapshot reads keep their pins. Restoring a
    * tombstoned version republishes the tombstone (restore-to-deleted
    * IS a delete); restoring the current version publishes an explicit
    * restore point (a deliberate audit marker, not a no-op).
    *
    * Concurrency: the commit rides the standard optimistic pointer
    * race ([[commitWithRetry]]) and, losing, retries with the SAME old
    * list — restore is a point-in-time assertion, not a merge; the log
    * stays last-writer-wins and every racer's commit remains in
    * history. Restored segments are protected from [[vacuum]] by
    * construction the moment the pointer lands (vacuum only reclaims
    * segments unreferenced by retained pointers, and the new head
    * references them). Same resolvability contract as [[readAsOf]]:
    * throws when `toPtrSeq` predates the retained log. Returns the
    * published pointer sequence. Idempotency tags are HISTORY, not
    * state: a tag recorded by a rolled-back merge stays in the
    * retained log, so restore undoes data but never re-opens the
    * replay window — an at-least-once source redelivering the bad
    * batch cannot resurrect it; apply the corrected batch under a
    * fresh tag (spec-pinned). */
  def restoreVersion(spark: SparkSession, tablePath: String, c: String,
      toPtrSeq: Long): Long = {
    val fs = fsOf(spark, tablePath)
    val snap = resolveAt(fs, tablePath, c, toPtrSeq)
    require(snap.decidedSeq > 0L,
      s"restore target $toPtrSeq of collection '$c' is not resolvable: " +
        (if (snap.minRetainedSeq > 0L)
          s"oldest retained commit is ${snap.minRetainedSeq} (earlier " +
            "history was vacuumed or never existed)"
        else "the collection has no committed history"))
    val content = snap.liveSegs match {
      case Some(segs) if segs.nonEmpty => segsContent(segs)
      case _ => Tombstone
    }
    var published = 0L
    commitWithRetry(fs, tablePath, c, resolve(fs, tablePath, c)) { rr =>
      published = rr.nextPtrSeq
      Some(content)
    }
    published
  }

  /** [[restoreVersion]] addressed by wall-clock instant (Delta's
    * `RESTORE ... TIMESTAMP AS OF`): roll back to the state the
    * collection had at `tsMs` — [[versionAtTime]]'s resolution
    * (ceiling beyond latest, fail-loud below the horizon), then the
    * ordinary restore commit. Completes the timestamp surface: read
    * ([[readAsOfTime]]), change feed ([[readSinceTime]]), restore. */
  def restoreToTime(spark: SparkSession, tablePath: String, c: String,
      tsMs: Long): Long =
    restoreVersion(spark, tablePath, c,
      versionAtTime(spark, tablePath, c, tsMs))

  /** The live pointer sequence of a collection (0 = no valid commit) —
    * what a reproducible pipeline records next to its outputs so
    * [[readAsOf]]/[[readSince]] can anchor to today's state. */
  def currentPtrSeq(spark: SparkSession, tablePath: String,
      c: String): Long =
    resolve(fsOf(spark, tablePath), tablePath, c).decidedSeq

  /** INCREMENTAL CHANGE FEED: rows in segments that are live NOW but
    * were not live just after pointer `sincePtrSeq` — exactly the data
    * appended since that snapshot, which is what incremental
    * dedup/indexing ([[graft.operators.Dedup.incrementalNearDups]])
    * consumes: process `readSince`, not the whole corpus.
    *
    * Append-only ingest yields precisely the new batches. A
    * COMPACTION in the window degrades to a full replay (the
    * compacted segment is new by definition and this log records
    * segment lists, not row lineage — the same caveat as consuming a
    * Delta table's files without CDF); a tombstone in the window
    * yields an empty feed plus whatever was appended after it.
    * Same resolvability contract as [[readAsOf]]: throws when
    * `sincePtrSeq` has been vacuumed out of the log. `sincePtrSeq` = 0
    * is always resolvable and feeds the whole live collection (the
    * cold-start bootstrap). */
  def readSince(spark: SparkSession, tablePath: String, c: String,
      sincePtrSeq: Long): DataFrame = {
    val fs = fsOf(spark, tablePath)
    val now = resolve(fs, tablePath, c)
    val base = if (sincePtrSeq == 0L) Set.empty[Long]
    else {
      val r = resolveAt(fs, tablePath, c, sincePtrSeq)
      require(r.decidedSeq > 0L,
        s"change-feed anchor $sincePtrSeq of collection '$c' is not " +
          s"resolvable: oldest retained commit is ${r.minRetainedSeq}; " +
          "re-bootstrap from a full read")
      r.liveSegs.toSeq.flatten.toSet
    }
    readSegs(spark, tablePath, c,
      now.liveSegs.toSeq.flatten.filterNot(base))
  }

  // ------------------------------------------------------------------
  // segment zone maps (Delta/Iceberg-style file skipping, one level up)
  // ------------------------------------------------------------------

  /** DEFAULT column whose per-segment [min,max] is recorded at commit
    * time. Parquet footers already give ROW-GROUP skipping inside a
    * file; the zone map gives SEGMENT skipping one level up — a pruned
    * [[readRange]] never lists, plans, or opens a segment whose range
    * can't match, which at 100 TB is the difference between "the scan
    * schedules a task per file and the footer rejects it" and "the
    * driver never saw the file". `doc_id` is the reference's document
    * identity key (main.go:300 — the UUID every store assigns), the
    * natural carrier for ingest-ordered segment locality. Tables whose
    * dominant pruning axis differs (time-series: an event timestamp)
    * configure their own set via [[setZoneMapColumns]]. */
  val ZoneMapColumn = "doc_id"

  private val StatsPrefix = "stats-"
  private val ZmPrefix = "zm:"
  private val ZmColsPrefix = "zmcols:"

  private def zmColsPath(tablePath: String): Path =
    new Path(s"$tablePath/_manifest/.zm-cols")

  /** Configure WHICH columns get per-segment zone-map stats for this
    * table — persisted next to the manifests so every writer and
    * compactor agrees. Applies to segments written AFTER the call
    * (stats are advisory: older segments simply never prune). Each
    * column's stat is typed by its KIND — integral columns record
    * numeric bounds served by [[readRangeLong]], everything else
    * records string bounds served by [[readRange]] — and a range read
    * only ever prunes on a stat of its own kind, because the two
    * orders disagree ("9" > "10" as strings) and a cross-kind prune
    * would silently drop matching segments. */
  def setZoneMapColumns(spark: SparkSession, tablePath: String,
      cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "zone-map column set must be non-empty")
    val fs = fsOf(spark, tablePath)
    assertNotFlatLayout(fs, tablePath, "zm-config")
    fs.mkdirs(new Path(s"$tablePath/_manifest"))
    val out = fs.create(zmColsPath(tablePath), true) // config update
    try out.write(
      (ZmColsPrefix + cols.map(zmEnc).mkString(",") + SegsSuffix)
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** The table's configured zone-map columns; [[ZoneMapColumn]] when
    * unset (or the config file is torn — advisory, like the stats). */
  private[sources] def zoneMapColumnsOf(fs: FileSystem,
      tablePath: String): Seq[String] =
    readPtr(fs, zmColsPath(tablePath)) match {
      case Some(s) if s.startsWith(ZmColsPrefix) && s.endsWith(SegsSuffix) =>
        val cols = s.stripPrefix(ZmColsPrefix).stripSuffix(SegsSuffix)
          .split(',').toSeq.filter(_.nonEmpty).map(zmDec)
        if (cols.nonEmpty) cols else Seq(ZoneMapColumn)
      case _ => Seq(ZoneMapColumn)
    }

  // ------------------------------------------------------------------
  // bloom-filter sidecars (the Delta bloom-index analogue)
  // ------------------------------------------------------------------

  private def bfColsPath(tablePath: String): Path =
    new Path(s"$tablePath/_manifest/.bf-cols")
  private val BfColsPrefix = "bfcols:"
  /** Default filter size in BITS (power of two — position = hash &
    * mask, no ANSI `%`). 2^17 bits = 16 KiB per column per segment:
    * ~0.5% false positives at 10k distinct keys, saturating (all-ones,
    * prunes nothing, never wrong) as segments grow past ~30k keys —
    * size it to the table's segment cardinality. */
  val DefaultBloomBits: Int = 1 << 17
  /** Probe count (k). */
  val BloomHashes = 4

  /** Configure per-segment BLOOM sidecars for `cols` (INTEGRAL and
    * STRING columns — the id/uuid/timestamp point-lookup and merge-key
    * axes; bloom bits for other types are skipped at write). The
    * reference's native row identity is a string uuid
    * (main.go:330, key format main.go:334), so the document-store
    * point-lookup axis is a string column: its UTF-8 bytes hash into
    * the same bitset shape integral keys use ('s'-kind token), and a
    * doc-id probe prunes segments whose ranges interleave after
    * appends exactly as [[readPointLong]] does for longs. Zone maps
    * answer RANGE questions; blooms answer the point question ranges
    * cannot:
    * "could key k be in this segment at all?" — the discriminator when
    * segment key ranges overlap (post-append interleaving, pre-
    * compaction). Like zone maps the bits are ADVISORY (a segment
    * without them is read conservatively) and apply to segments
    * written after the call. `bits` must be a power of two. */
  def setBloomColumns(spark: SparkSession, tablePath: String,
      cols: Seq[String], bits: Int = DefaultBloomBits): Unit = {
    require(cols.nonEmpty, "bloom column set must be non-empty")
    require(bits > 0 && (bits & (bits - 1)) == 0,
      s"bloom bits must be a positive power of two, got $bits")
    val fs = fsOf(spark, tablePath)
    assertNotFlatLayout(fs, tablePath, "bf-config")
    fs.mkdirs(new Path(s"$tablePath/_manifest"))
    val out = fs.create(bfColsPath(tablePath), true) // config update
    try out.write(
      (BfColsPrefix + bits + ":" + cols.map(zmEnc).mkString(",") +
        SegsSuffix).getBytes("UTF-8"))
    finally out.close()
  }

  /** The table's configured bloom columns and filter size; empty when
    * unset (blooms are opt-in, unlike zone maps). */
  private[sources] def bloomColumnsOf(fs: FileSystem,
      tablePath: String): (Seq[String], Int) =
    readPtr(fs, bfColsPath(tablePath)) match {
      case Some(s) if s.startsWith(BfColsPrefix) && s.endsWith(SegsSuffix) =>
        s.stripPrefix(BfColsPrefix).stripSuffix(SegsSuffix)
          .split(':') match {
          case Array(bits, colsCsv) =>
            (bits.toIntOption, colsCsv.split(',').toSeq
              .filter(_.nonEmpty).map(zmDec)) match {
              case (Some(m), cols)
                  if cols.nonEmpty && m > 0 && (m & (m - 1)) == 0 =>
                (cols, m)
              case _ => (Seq.empty, DefaultBloomBits)
            }
          case _ => (Seq.empty, DefaultBloomBits)
        }
      case _ => (Seq.empty, DefaultBloomBits)
    }

  /** The k collect_set aggregates building one column's bloom
    * positions during the segment write (probe j's position =
    * `xxhash64(j, value) & (bits-1)`, tagged by j in the alias).
    * Kind 'l': the value is cast to LONG so the driver-side probe
    * ([[bloomProbe]]) reproduces the hash with `XXH64.hashLong`
    * regardless of the column's integral width. Kind 's': the raw
    * string column — Spark's xxhash64 hashes its UTF-8 bytes with the
    * folded seed, which [[bloomProbeStr]] reproduces with
    * `XXH64.hashUnsafeBytes`. Each set is bounded by `bits` distinct
    * positions — segment-write metadata, not data. */
  private def bloomAggs(n: String, kind: Char, bits: Int,
      tag: String): Seq[Column] =
    (0 until BloomHashes).map { j =>
      val v = if (kind == 'l') col(n).cast("long") else col(n)
      collect_set(
        xxhash64(lit(j.toLong), v)
          .bitwiseAND(lit((bits - 1).toLong)).cast("int"))
        .as(s"bf_${tag}_$j")
    }

  /** Bloom kind for a column type: 'l' = integral (hash the widened
    * long), 's' = string (hash the UTF-8 bytes). None = the type has
    * no canonical point-probe hash here — skipped at write, like an
    * absent sidecar. */
  private def bfKindOf(
      dt: org.apache.spark.sql.types.DataType): Option[Char] = dt match {
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType => Some('l')
    case org.apache.spark.sql.types.StringType => Some('s')
    case _ => None
  }

  /** Driver-side twin of [[bloomAggs]]'s position arithmetic:
    * Spark's multi-arg `xxhash64` left-folds the seed through its
    * children, so probe j's position for long value v is
    * `hashLong(v, hashLong(j, 42)) & (bits-1)`. */
  private def bloomProbe(v: Long, j: Int, bits: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    (XXH64.hashLong(v, XXH64.hashLong(j.toLong, 42L)) &
      (bits - 1).toLong).toInt
  }

  /** String twin of [[bloomProbe]]: Spark's `xxhash64(j, stringCol)`
    * hashes the UTF-8 bytes with the folded seed — reproduced here
    * over the UTF8String's backing bytes (verified bit-equal against
    * the expression for multi-byte code points and the empty
    * string). */
  private def bloomProbeStr(v: org.apache.spark.unsafe.types.UTF8String,
      j: Int, bits: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    (XXH64.hashUnsafeBytes(v.getBaseObject, v.getBaseOffset, v.numBytes,
      XXH64.hashLong(j.toLong, 42L)) & (bits - 1).toLong).toInt
  }

  /** Pack per-probe position sets into the sidecar token
    * `bf:<encName>:<bits>:<urlsafe-b64 bitset>` for 'l'-kind columns,
    * `bfs:...` for 's'-kind (padding-free alphabet — never collides
    * with the `;,=` framing; the distinct prefix keeps pre-string
    * readers skipping 's' tokens instead of mis-probing them with the
    * long hash). */
  private def bloomToken(n: String, kind: Char, bits: Int,
      posSets: Seq[Seq[Int]]): String = {
    val bytes = new Array[Byte](bits / 8)
    posSets.foreach(_.foreach { p =>
      bytes(p >>> 3) = (bytes(p >>> 3) | (1 << (p & 7))).toByte
    })
    val pfx = if (kind == 's') "bfs" else "bf"
    s"$pfx:${zmEnc(n)}:$bits:" +
      java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(bytes)
  }

  /** The segment's bloom bitsets by column: (kind, bits, bitset) —
    * kind 'l' bitsets were built from the long hash, 's' from the
    * UTF-8 byte hash; a probe must match the kind or prove nothing.
    * Missing / torn sidecars parse to empty ("no bloom — read
    * conservatively"), the zone-map discipline. */
  private[graft] def readSegBlooms(fs: FileSystem, tablePath: String,
      c: String, seg: Long): Map[String, (Char, Int, Array[Byte])] =
    readPtr(fs, statsPath(tablePath, c, seg)) match {
      case Some(s) if s.startsWith(ZmPrefix) && s.endsWith(SegsSuffix) =>
        s.stripPrefix(ZmPrefix).stripSuffix(SegsSuffix)
          .split(';').toSeq
          .filter(e => e.startsWith("bf:") || e.startsWith("bfs:"))
          .flatMap { e =>
            e.split(':') match {
              case Array(pfx, n, bits, b64) =>
                (bits.toIntOption, scala.util.Try(
                  java.util.Base64.getUrlDecoder.decode(b64)).toOption) match {
                  case (Some(m), Some(bytes))
                      if m > 0 && (m & (m - 1)) == 0 &&
                        bytes.length == m / 8 =>
                    val kind = if (pfx == "bfs") 's' else 'l'
                    Some(zmDec(n) -> (kind, m, bytes))
                  case _ => None
                }
              case _ => None
            }
          }.toMap
      case _ => Map.empty
    }

  /** May this bitset contain long value `v`? False only when at least
    * one probe position is unset — definitive absence. */
  private[graft] def bloomMayContain(bits: Int, bytes: Array[Byte],
      v: Long): Boolean =
    (0 until BloomHashes).forall { j =>
      val p = bloomProbe(v, j, bits)
      (bytes(p >>> 3) & (1 << (p & 7))) != 0
    }

  /** [[bloomMayContain]] for 's'-kind bitsets: may this bitset contain
    * string value `v`? */
  private[graft] def bloomMayContainStr(bits: Int, bytes: Array[Byte],
      v: org.apache.spark.unsafe.types.UTF8String): Boolean =
    (0 until BloomHashes).forall { j =>
      val p = bloomProbeStr(v, j, bits)
      (bytes(p >>> 3) & (1 << (p & 7))) != 0
    }

  /** POINT LOOKUP pruned by zone maps AND bloom sidecars: segments
    * whose recorded key range excludes `v` OR whose bloom says
    * "definitely absent" are never listed or planned — on an
    * interleaved-key table (post-append, pre-compaction) the blooms
    * are what keeps a needle lookup from scanning every
    * range-overlapping segment. Residual `column = v` still applies
    * (pruning is an optimization, never the filter), so it also pushes
    * into the surviving parquet scans' row-group stats. */
  def readPointLong(spark: SparkSession, tablePath: String, c: String,
      v: Long, column: String = ZoneMapColumn): DataFrame = {
    val fs = fsOf(spark, tablePath)
    val segs = resolve(fs, tablePath, c).liveSegs.toSeq.flatten
    val kept = segs.filter { s =>
      val inRange = readSegStats(fs, tablePath, c, s).get(column) match {
        case Some(('l', sLo, sHi)) =>
          (sLo.toLongOption, sHi.toLongOption) match {
            case (Some(l), Some(h)) => l <= v && v <= h
            case _ => true
          }
        case _ => true
      }
      inRange && (readSegBlooms(fs, tablePath, c, s).get(column) match {
        case Some(('l', m, bytes)) => bloomMayContain(m, bytes, v)
        case _ => true // 's'-kind or absent: prove nothing
      })
    }
    rangeResidual(
      readSegsInferred(spark, tablePath, c, kept, segs), column,
      col(column) === lit(v))
  }

  /** [[readPointLong]] for a STRING key — the reference's native row
    * identity (a uuid string, main.go:330; key `{collection}/{uuid}`,
    * main.go:334): segments whose 's'-kind recorded range excludes `v`
    * in UTF-8 byte order OR whose string bloom says "definitely
    * absent" are never listed or planned. On a document store whose
    * uuid ranges interleave after appends (every segment spans most of
    * the key space) the blooms are the only discriminator — an absent
    * uuid reads NOTHING. Residual `column = v` still applies. */
  def readPointString(spark: SparkSession, tablePath: String, c: String,
      v: String, column: String): DataFrame = {
    val fs = fsOf(spark, tablePath)
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(v)
    val segs = resolve(fs, tablePath, c).liveSegs.toSeq.flatten
    val kept = segs.filter { s =>
      val inRange = readSegStats(fs, tablePath, c, s).get(column) match {
        case Some(('s', sLo, sHi)) =>
          utf8Cmp(sLo, v) <= 0 && utf8Cmp(v, sHi) <= 0
        case _ => true
      }
      inRange && (readSegBlooms(fs, tablePath, c, s).get(column) match {
        case Some(('s', m, bytes)) => bloomMayContainStr(m, bytes, u)
        case _ => true // 'l'-kind or absent: prove nothing
      })
    }
    rangeResidual(
      readSegsInferred(spark, tablePath, c, kept, segs), column,
      col(column) === lit(v))
  }

  /** Stat kind for a column type: 'l' = integral (numeric-ordered
    * bounds), 'd' = floating (double bounds under Spark's float total
    * order — NaN greatest; see [[dCmpPred]] for the prune-side
    * comparator), 's' = everything else via cast-to-string
    * (UTF-8-ordered bounds — the order Spark's string min/max
    * collects under). Sidecars written before 'd' existed recorded
    * float columns as 's' — readers treat that as wrong-kind and
    * prune nothing, the proof discipline's forward-compat arm. */
  private def zmKindOf(dt: org.apache.spark.sql.types.DataType): Char =
    dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => 'l'
      case org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType => 'd'
      case _ => 's'
    }

  /** -0.0 → +0.0: Spark's comparison semantics treat the two zeros as
    * EQUAL (while its min/max ordering distinguishes them), so every
    * prune-side comparison canonicalizes first — a segment whose
    * recorded hi is -0.0 must not be pruned away from a `>= 0.0`
    * probe. */
  private[sources] def dCanon(d: Double): Double =
    if (d == 0.0) 0.0 else d

  /** PREDICATE-semantics double compare for pruning proofs: zeros
    * canonicalized (Spark's `=`/range operators treat -0.0 = 0.0) and
    * NaN ordered greatest (Spark's documented NaN semantics: NaN =
    * NaN is true, NaN exceeds every other value) — so a bound test
    * under this comparator can only KEEP more segments than Spark's
    * own predicate would match, never fewer. */
  private[sources] def dCmpPred(a: Double, b: Double): Int =
    java.lang.Double.compare(dCanon(a), dCanon(b))

  private[sources] def statsPath(tablePath: String, c: String, seg: Long): Path =
    new Path(manifestDir(tablePath, c), f"$StatsPrefix$seg%06d")

  // zone-map values are arbitrary user strings: URL-encode so the
  // ';'/','/'=' framing chars can never appear in a value, keeping the
  // same crash property as pointers (a truncated sidecar fails the
  // terminator check and reads as "no stats" — never as wrong bounds)
  private def zmEnc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def zmDec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Unsigned UTF-8 byte comparison — the ordering `UTF8String` gives
    * Spark's string min/max, which Java's UTF-16 `compareTo` does NOT
    * match for supplementary-plane code points. */
  private[sources] def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Write one segment + its zone-map sidecar (data first, sidecar
    * second, pointer LAST — an interrupted commit leaves only
    * unreferenced files). The [min,max] is collected by an
    * [[Observation]] DURING the segment write itself: zero extra pass
    * over the data, exactly the way Delta collects file stats while
    * writing. Sidecars are advisory metadata: a segment without one
    * (pre-zone-map history, all-null column, or a failed sidecar
    * create) is simply never pruned — reads stay correct, just less
    * lazy. */
  private def writeSegment(df: DataFrame, fs: FileSystem,
      tablePath: String, c: String, seg: Long): Unit = {
    val dir = segDir(tablePath, c, seg).toString
    // a sidecar left by a crashed attempt at this number describes
    // bytes that never committed — drop it BEFORE the data write and
    // recreate it after, or stale bounds would prune the new data
    // (wrong results, not just missed pruning)
    try fs.delete(statsPath(tablePath, c, seg), false)
    catch { case _: java.io.IOException => () }
    val zmCols = zoneMapColumnsOf(fs, tablePath)
      .filter(df.columns.contains)
      .map(n => (n, zmKindOf(df.schema(n).dataType)))
    val (bfColsCfg, bfBits) = bloomColumnsOf(fs, tablePath)
    val bfCols = bfColsCfg.filter(df.columns.contains)
      .flatMap(n => bfKindOf(df.schema(n).dataType).map(k => (n, k)))
    if (zmCols.isEmpty && bfCols.isEmpty) {
      df.write.mode(SaveMode.Overwrite).parquet(dir)
    } else {
      // every configured column's [min,max] — and bloom position
      // sets, and the segment's TOTAL row count — ride ONE Observation
      // on the segment write itself: zero extra passes however many
      // columns are mapped
      val obs = Observation()
      val aggs = zmCols.zipWithIndex.flatMap { case ((n, k), i) =>
        val base =
          if (k == 'l') col(n)
          else if (k == 'd') col(n).cast("double")
          else col(n).cast("string")
        // the NON-NULL count rides the same single Observation: it is
        // the column's metadata-servable COUNT contribution (total row
        // count would overcount rows the range predicate's null
        // exclusion drops)
        Seq(min(base).as(s"zm_lo_$i"), max(base).as(s"zm_hi_$i"),
          count(base).as(s"zm_n_$i"))
      } ++ bfCols.zipWithIndex.flatMap { case ((n, k), i) =>
        bloomAggs(n, k, bfBits, i.toString)
      } :+ count(lit(1)).as("zm_rows")
      df.observe(obs, aggs.head, aggs.tail: _*)
        .write.mode(SaveMode.Overwrite).parquet(dir)
      val m = obs.get
      // per-column non-null counts ride the sidecar as their own
      // '='-less tokens (`cnt:<encName>:<n>`) — the zone-map parser
      // skips them, so pre-count readers stay compatible; a
      // fully-range-covered segment's COUNT can then be served from
      // metadata alone ([[countRangeLongPlanned]])
      val cntToks = zmCols.zipWithIndex.flatMap { case ((n, _), i) =>
        m.get(s"zm_n_$i").collect { case v: Long => s"cnt:${zmEnc(n)}:$v" }
      }
      // the segment's TOTAL row count (`rows:<n>`): serves bare
      // COUNT(*) from metadata ([[countRowsPlanned]]) and, paired with
      // a column's non-null count, PROVES a no-nulls segment for
      // IsNull pruning (rows == non-null ⇒ IS NULL matches nothing)
      val rowToks = m.get("zm_rows")
        .collect { case v: Long => s"rows:$v" }.toSeq
      val bfToks = bfCols.zipWithIndex.map { case ((n, k), i) =>
        bloomToken(n, k, bfBits, (0 until BloomHashes).map { j =>
          m.get(s"bf_${i}_$j") match {
            case Some(a: scala.collection.Seq[_]) =>
              a.map(_.asInstanceOf[Int]).toSeq
            case _ => Seq.empty[Int]
          }
        })
      }
      val entries = rowToks ++ cntToks ++ bfToks ++
        zmCols.zipWithIndex.flatMap { case ((n, k), i) =>
          (m.get(s"zm_lo_$i"), m.get(s"zm_hi_$i")) match {
            // empty segment or all-null column: no entry for this column
            case (Some(lo), Some(hi)) if lo != null && hi != null =>
              Some(s"${zmEnc(n)}:$k=${zmEnc(lo.toString)},${zmEnc(hi.toString)}")
            case _ => None
          }
        }
      if (entries.nonEmpty) writeStatsFile(fs, tablePath, c, seg, entries)
      // seed the append doors' schema check — the writer's own
      // segments never cost a footer read
      seedSegSchema(tablePath, c, seg, df.schema)
    }
  }

  /** Serialize one segment's sidecar tokens (best-effort — sidecars
    * are advisory metadata, a failed create just means the segment is
    * never pruned). */
  private def writeStatsFile(fs: FileSystem, tablePath: String, c: String,
      seg: Long, entries: Seq[String]): Unit =
    try {
      val out = fs.create(statsPath(tablePath, c, seg), true)
      try out.write(
        (ZmPrefix + entries.mkString(";") + SegsSuffix).getBytes("UTF-8"))
      finally out.close()
    } catch { case _: java.io.IOException => () /* advisory */ }

  /** Write a clustered multi-segment layout in O(data) total work,
    * however many output segments: `laid` must carry an integer
    * `__part` column ALIGNED with its physical partitioning (each
    * partition holds exactly one `__part` value — the
    * `repartitionByRange(...).withColumn("__part",
    * spark_partition_id())` shape) and should be persisted by the
    * caller, since exactly TWO jobs run over it:
    *
    *   1. one stats pass (`groupBy(__part)`) collecting every zone-map
    *      column's [min,max] + non-null count per output segment — the
    *      sidecars are then written DRIVER-side from the collected
    *      rows, no per-segment data pass;
    *   2. one partitioned write into a CLAIMED staging segment dir
    *      (`partitionBy(__part)` — each task streams its single part
    *      value to its own subdirectory), after which each `__part=<p>`
    *      subdir is renamed into its own claimed segment dir.
    *
    * The staging dir is itself a claimed segment, so a crashed attempt
    * looks to [[vacuum]] exactly like any in-flight writer's orphan:
    * age-guarded, then swept with its claim. Renames happen before the
    * pointer commit, so they need no atomicity — the segments are
    * unreferenced until the caller publishes them. (The previous shape
    * here — one `laid.where(__part === p)` write per segment — scanned
    * the whole persisted frame once per output segment: O(N²) in
    * segment count.)
    *
    * Returns the claimed segment numbers of the NON-EMPTY partitions in
    * partition (= cluster) order; empty input returns Seq.empty with
    * nothing claimed. The caller commits them (and releases the claims
    * after its pointer lands) or deletes them on abandon. */
  private def writeClusteredSegments(laid: DataFrame, fs: FileSystem,
      tablePath: String, c: String, from: Long): Seq[Long] = {
    val dataCols = laid.columns.filterNot(_ == "__part")
    val zmCols = zoneMapColumnsOf(fs, tablePath)
      .filter(dataCols.contains)
      .map(n => (n, zmKindOf(laid.schema(n).dataType)))
    val (bfColsCfg, bfBits) = bloomColumnsOf(fs, tablePath)
    val bfCols = bfColsCfg.filter(dataCols.contains)
      .flatMap(n => bfKindOf(laid.schema(n).dataType).map(k => (n, k)))
    val aggs = zmCols.zipWithIndex.flatMap { case ((n, k), i) =>
      val base =
        if (k == 'l') col(n)
        else if (k == 'd') col(n).cast("double")
        else col(n).cast("string")
      Seq(min(base).as(s"zm_lo_$i"), max(base).as(s"zm_hi_$i"),
        count(base).as(s"zm_n_$i"))
    } ++ bfCols.zipWithIndex.flatMap { case ((n, k), i) =>
      bloomAggs(n, k, bfBits, i.toString)
    }
    val statRows = laid.groupBy(col("__part"))
      .agg(count(lit(1)).as("__n"), aggs: _*)
      .collect()
    val byPart = statRows.map(r => r.getAs[Int]("__part") -> r).toMap
    val parts = byPart.keys.toSeq.sorted
    if (parts.isEmpty) return Seq.empty
    // one batch claim (staging + one number per non-empty partition):
    // the stale-from guard's pointer-log resolve is paid once per
    // write, not once per segment
    val claimed = claimSegs(fs, tablePath, c, from, parts.size + 1)
    val staging = claimed.head
    val segFor = parts.zip(claimed.tail).toMap
    val stagingDir = segDir(tablePath, c, staging)
    laid.write.mode(SaveMode.Overwrite).partitionBy("__part")
      .parquet(stagingDir.toString)
    parts.foreach { p =>
      val seg = segFor(p)
      // a stale sidecar from a crashed attempt at this number describes
      // bytes that never committed — same discipline as [[writeSegment]]
      try fs.delete(statsPath(tablePath, c, seg), false)
      catch { case _: java.io.IOException => () }
      val dst = segDir(tablePath, c, seg)
      try fs.delete(dst, true) catch { case _: java.io.IOException => () }
      if (!fs.rename(new Path(stagingDir, s"__part=$p"), dst))
        throw new java.io.IOException(
          s"staging rename into ${dst} failed")
      val r = byPart(p)
      // total row count is the stats pass's `__n` — same token as
      // [[writeSegment]]'s Observation-collected one
      val rowToks = Option(r.getAs[Any]("__n"))
        .collect { case v: Long => s"rows:$v" }.toSeq
      val cntToks = zmCols.zipWithIndex.flatMap { case ((n, _), i) =>
        Option(r.getAs[Any](s"zm_n_$i"))
          .collect { case v: Long => s"cnt:${zmEnc(n)}:$v" }
      }
      val bfToks = bfCols.zipWithIndex.map { case ((n, k), i) =>
        bloomToken(n, k, bfBits, (0 until BloomHashes).map { j =>
          Option(r.getAs[Any](s"bf_${i}_$j")) match {
            case Some(a: scala.collection.Seq[_]) =>
              a.map(_.asInstanceOf[Int]).toSeq
            case _ => Seq.empty[Int]
          }
        })
      }
      val entries = rowToks ++ cntToks ++ bfToks ++
        zmCols.zipWithIndex.flatMap { case ((n, k), i) =>
          (Option(r.getAs[Any](s"zm_lo_$i")),
            Option(r.getAs[Any](s"zm_hi_$i"))) match {
            case (Some(lo), Some(hi)) =>
              Some(s"${zmEnc(n)}:$k=${zmEnc(lo.toString)},${zmEnc(hi.toString)}")
            case _ => None
          }
        }
      if (entries.nonEmpty) writeStatsFile(fs, tablePath, c, seg, entries)
      // seed the append doors' schema check — the writer's own
      // segments never cost a footer read
      seedSegSchema(tablePath, c, seg,
        org.apache.spark.sql.types.StructType(
          laid.schema.fields.filterNot(_.name == "__part")))
    }
    try fs.delete(stagingDir, true)
    catch { case _: java.io.IOException => () /* vacuum sweeps it */ }
    releaseClaim(fs, tablePath, c, staging)
    parts.map(segFor)
  }

  /** The segment's recorded zone map: column → (kind, min, max), empty
    * when the sidecar is missing, torn, or unparseable (= "cannot
    * prune"). Entries without a kind marker (pre-generalization
    * sidecars) are string-kind — that is what they recorded. */
  private[sources] def readSegStats(fs: FileSystem, tablePath: String,
      c: String, seg: Long): Map[String, (Char, String, String)] =
    readPtr(fs, statsPath(tablePath, c, seg)) match {
      case Some(s) if s.startsWith(ZmPrefix) && s.endsWith(SegsSuffix) =>
        s.stripPrefix(ZmPrefix).stripSuffix(SegsSuffix)
          .split(';').toSeq.filter(_.nonEmpty)
          .flatMap { entry =>
            entry.split('=') match {
              case Array(name, range) => range.split(',') match {
                case Array(lo, hi) =>
                  // name is URL-encoded, so a raw ':' can only be the
                  // kind marker
                  val (n, kind) = name.split(':') match {
                    case Array(n0, k) if k.length == 1 => (n0, k.head)
                    case _ => (name, 's')
                  }
                  Some(zmDec(n) -> (kind, zmDec(lo), zmDec(hi)))
                case _ => None
              }
              case _ => None
            }
          }.toMap
      case _ => Map.empty
    }

  /** The segment's recorded NON-NULL count for `column` (the
    * sidecar's `cnt:<encName>:<n>` token), if the sidecar exists,
    * parses, and carries one — pre-count sidecars yield None
    * ("must scan"). */
  private[sources] def readSegCount(fs: FileSystem, tablePath: String,
      c: String, seg: Long, column: String): Option[Long] =
    readPtr(fs, statsPath(tablePath, c, seg)) match {
      case Some(s) if s.startsWith(ZmPrefix) && s.endsWith(SegsSuffix) =>
        s.stripPrefix(ZmPrefix).stripSuffix(SegsSuffix)
          .split(';').toSeq
          .collectFirst {
            case e if e.startsWith("cnt:") &&
                (e.split(':') match {
                  case Array(_, n, _) => zmDec(n) == column
                  case _ => false
                }) =>
              e.split(':')(2).toLongOption
          }.flatten
      case _ => None
    }

  /** Sidecar-served row counts for a set of segments, each read ONCE —
    * the metadata face a per-version audit ([[history]] consumers like
    * the declared DESCRIBE HISTORY query) sums per version without
    * constructing one snapshot index per version: V versions over S
    * distinct segments cost S sidecar reads total, not O(V·S). None
    * for a segment whose sidecar is missing or pre-`rows:` ("must
    * scan"). */
  def segRowCounts(spark: SparkSession, tablePath: String, c: String,
      segs: Seq[Long]): Map[Long, Option[Long]] = {
    val fs = fsOf(spark, tablePath)
    segs.distinct.map(s => s -> readSegRows(fs, tablePath, c, s)).toMap
  }

  /** The segment's recorded TOTAL row count (the sidecar's `rows:<n>`
    * token), if the sidecar exists, parses, and carries one —
    * pre-rows sidecars yield None ("must scan"). */
  private[sources] def readSegRows(fs: FileSystem, tablePath: String,
      c: String, seg: Long): Option[Long] =
    readPtr(fs, statsPath(tablePath, c, seg)) match {
      case Some(s) if s.startsWith(ZmPrefix) && s.endsWith(SegsSuffix) =>
        s.stripPrefix(ZmPrefix).stripSuffix(SegsSuffix)
          .split(';').toSeq
          .collectFirst { case e if e.startsWith("rows:") =>
            e.stripPrefix("rows:").toLongOption
          }.flatten
      case _ => None
    }

  /** Bare COUNT(*) served from METADATA wherever possible: every
    * segment carrying a `rows:` token contributes it without being
    * listed, planned, or read; only pre-token segments fall back to
    * ONE batched scan. At 100 TB "how many rows is this table" costs
    * one sidecar read per segment instead of opening the table.
    * Returns (total, metaServedSegs, scannedSegs) so the serving
    * split is observable and spec-pinned. */
  def countRowsPlanned(spark: SparkSession, tablePath: String,
      c: String): (Long, Int, Int) = {
    val fs = fsOf(spark, tablePath)
    val segs = resolve(fs, tablePath, c).liveSegs.toSeq.flatten
    var meta = 0L
    var nMeta = 0
    val toScan = Seq.newBuilder[Long]
    segs.foreach { seg =>
      readSegRows(fs, tablePath, c, seg) match {
        case Some(n) => meta += n; nMeta += 1
        case None => toScan += seg
      }
    }
    val scanSegs = toScan.result()
    val scanned =
      if (scanSegs.isEmpty) 0L
      else readSegsInferred(spark, tablePath, c, scanSegs, scanSegs).count()
    (meta + scanned, nMeta, scanSegs.size)
  }

  /** [[countRowsPlanned]] without the observability tuple. */
  def countRows(spark: SparkSession, tablePath: String, c: String): Long =
    countRowsPlanned(spark, tablePath, c)._1

  /** COUNT over a numeric range served from METADATA wherever
    * possible: a segment whose recorded [min,max] for `column` lies
    * fully inside [lo,hi] contributes its sidecar row count without
    * being listed, planned, or read (at 100 TB a dashboard's "events
    * this week" touches two boundary segments instead of the week);
    * non-intersecting segments contribute zero; only boundary
    * segments — plus any lacking stats or a count — are scanned, in
    * ONE batched residual-filtered read. NULLs never count: the
    * metadata path serves the sidecar's NON-NULL count for the
    * column, matching the residual predicate's null exclusion
    * exactly. Returns
    * (total, metaServedSegs, scannedSegs, prunedSegs) so the serving
    * split is observable and spec-pinned. */
  def countRangeLongPlanned(spark: SparkSession, tablePath: String,
      c: String, lo: Long, hi: Long, column: String): (Long, Int, Int, Int) = {
    val fs = fsOf(spark, tablePath)
    val segs = resolve(fs, tablePath, c).liveSegs.toSeq.flatten
    var meta = 0L
    var nMeta = 0
    var nPruned = 0
    val toScan = Seq.newBuilder[Long]
    segs.foreach { seg =>
      val stats = readSegStats(fs, tablePath, c, seg)
      stats.get(column) match {
        case Some(('l', sLo, sHi)) =>
          (sLo.toLongOption, sHi.toLongOption) match {
            case (Some(l), Some(h)) if h < lo || l > hi => nPruned += 1
            case (Some(l), Some(h)) if l >= lo && h <= hi =>
              readSegCount(fs, tablePath, c, seg, column) match {
                case Some(n) => meta += n; nMeta += 1
                case None => toScan += seg
              }
            case _ => toScan += seg
          }
        case _ => toScan += seg
      }
    }
    val scanSegs = toScan.result()
    val scanned =
      if (scanSegs.isEmpty) 0L
      else readSegsInferred(spark, tablePath, c, scanSegs, scanSegs)
        .where(col(column) >= lo && col(column) <= hi).count()
    (meta + scanned, nMeta, scanSegs.size, nPruned)
  }

  /** [[countRangeLongPlanned]] without the observability tuple. */
  def countRangeLong(spark: SparkSession, tablePath: String, c: String,
      lo: Long, hi: Long, column: String): Long =
    countRangeLongPlanned(spark, tablePath, c, lo, hi, column)._1

  /** [[countRangeLongPlanned]] for FLOATING columns: segments fully
    * inside [lo, hi] under [[dCmpPred]] serve their sidecar non-null
    * counts without a read; partial overlaps scan with the residual.
    * NaN discipline makes the metadata serve SOUND: a segment holding
    * any NaN records hi = NaN (Spark's max order), which is never
    * proven ≤ a finite probe hi — such segments always scan, so a
    * finite-range count can never serve NaN rows from metadata (they
    * would not match the residual either). */
  def countRangeDoublePlanned(spark: SparkSession, tablePath: String,
      c: String, lo: Double, hi: Double,
      column: String): (Long, Int, Int, Int) = {
    val fs = fsOf(spark, tablePath)
    val segs = resolve(fs, tablePath, c).liveSegs.toSeq.flatten
    var meta = 0L
    var nMeta = 0
    var nPruned = 0
    val toScan = Seq.newBuilder[Long]
    segs.foreach { seg =>
      readSegStats(fs, tablePath, c, seg).get(column) match {
        case Some(('d', sLo, sHi)) =>
          (sLo.toDoubleOption, sHi.toDoubleOption) match {
            case (Some(l), Some(h))
                if dCmpPred(h, lo) < 0 || dCmpPred(l, hi) > 0 =>
              nPruned += 1
            case (Some(l), Some(h))
                if dCmpPred(l, lo) >= 0 && dCmpPred(h, hi) <= 0 =>
              readSegCount(fs, tablePath, c, seg, column) match {
                case Some(n) => meta += n; nMeta += 1
                case None => toScan += seg
              }
            case _ => toScan += seg
          }
        case _ => toScan += seg
      }
    }
    val scanSegs = toScan.result()
    val scanned =
      if (scanSegs.isEmpty) 0L
      else readSegsInferred(spark, tablePath, c, scanSegs, scanSegs)
        .where(col(column) >= lo && col(column) <= hi).count()
    (meta + scanned, nMeta, scanSegs.size, nPruned)
  }

  /** [[countRangeDoublePlanned]] without the observability tuple. */
  def countRangeDouble(spark: SparkSession, tablePath: String, c: String,
      lo: Double, hi: Double, column: String): Long =
    countRangeDoublePlanned(spark, tablePath, c, lo, hi, column)._1

  /** ZONE-MAP-PRUNED range read: rows of `c` with `column` in
    * [lo, hi] (inclusive, string comparison — the column is cast to
    * string in both the stats and the residual predicate, and the
    * driver-side prune compares UTF-8 BYTES, because that is the
    * ordering Spark's min/max collected the stats under
    * (`UTF8String.compareTo` is unsigned byte order; Java's
    * `String.compareTo` is UTF-16 code units, which disagrees for
    * supplementary-plane text and would mis-prune).
    * Segments whose recorded range cannot intersect are skipped
    * WITHOUT being listed or planned; segments lacking stats are read
    * conservatively. The residual predicate still applies — pruning is
    * a strict optimization, never the filter itself — and pushes into
    * the parquet scan of the surviving segments, so row-group skipping
    * still happens inside them. */
  def readRange(spark: SparkSession, tablePath: String, c: String,
      lo: String, hi: String,
      column: String = ZoneMapColumn): DataFrame = {
    val fs = fsOf(spark, tablePath)
    val segs = resolve(fs, tablePath, c).liveSegs.toSeq.flatten
    val kept = segs.filter { s =>
      readSegStats(fs, tablePath, c, s).get(column) match {
        // KIND discipline: only string-kind stats serve a string-order
        // prune — numeric-kind bounds are ordered differently ("9" >
        // "10") and would silently drop matching segments
        case Some(('s', mn, mx)) =>
          utf8Cmp(mn, hi) <= 0 && utf8Cmp(mx, lo) >= 0
        case _ => true
      }
    }
    rangeResidual(
      readSegsInferred(spark, tablePath, c, kept, segs), column,
      col(column).cast("string").between(lit(lo), lit(hi)))
  }

  /** [[readRange]] for INTEGRAL columns — the time-series axis
    * (`events.ts`-style epoch-longs) that dominates pruning at 100 TB.
    * The prune compares numeric bounds (only 'l'-kind stats are
    * consulted, see [[readRange]] on kind discipline) and the residual
    * predicate is the NATIVE long comparison — no cast wrapper, so it
    * pushes all the way into the surviving segments' parquet footers
    * and row-group skipping works inside them too. */
  def readRangeLong(spark: SparkSession, tablePath: String, c: String,
      lo: Long, hi: Long, column: String): DataFrame = {
    val fs = fsOf(spark, tablePath)
    val segs = resolve(fs, tablePath, c).liveSegs.toSeq.flatten
    val kept = segs.filter(keepLong(fs, tablePath, c, _, lo, hi, column))
    rangeResidual(
      readSegsInferred(spark, tablePath, c, kept, segs), column,
      col(column).between(lit(lo), lit(hi)))
  }

  /** The [[readRangeLong]] prune predicate: keep the segment unless its
    * recorded numeric bounds PROVE it cannot intersect [lo, hi]. */
  private def keepLong(fs: FileSystem, tablePath: String, c: String,
      seg: Long, lo: Long, hi: Long, column: String): Boolean =
    readSegStats(fs, tablePath, c, seg).get(column) match {
      case Some(('l', mn, mx)) =>
        (mn.toLongOption, mx.toLongOption) match {
          case (Some(a), Some(b)) => a <= hi && b >= lo
          case _ => true // unparseable bounds: cannot prune
        }
      case _ => true
    }

  /** (kept, total) live-segment counts a [[readRangeLong]] with these
    * bounds would plan — the observability hook that lets callers (and
    * the pruning spec) assert segment skipping actually engaged,
    * without coupling to manifest internals. */
  def rangeLongPlanned(spark: SparkSession, tablePath: String, c: String,
      lo: Long, hi: Long, column: String): (Int, Int) = {
    val fs = fsOf(spark, tablePath)
    val segs = resolve(fs, tablePath, c).liveSegs.toSeq.flatten
    (segs.count(keepLong(fs, tablePath, c, _, lo, hi, column)), segs.size)
  }

  /** [[readRangeLong]] for FLOATING columns — the metric axis
    * (`events.value`-style measurements): the prune consults only
    * 'd'-kind stats under [[dCmpPred]] (zeros canonicalized, NaN
    * greatest — exactly Spark's predicate semantics, so the proof can
    * never drop a matching segment; a NaN recorded in a bound simply
    * never proves exclusion), and the residual is the native double
    * `between`, pushed into the surviving parquet footers. Sidecars
    * that recorded the column pre-'d' (as 's' strings) are wrong-kind
    * and prune nothing. */
  def readRangeDouble(spark: SparkSession, tablePath: String, c: String,
      lo: Double, hi: Double, column: String): DataFrame = {
    val fs = fsOf(spark, tablePath)
    val segs = resolve(fs, tablePath, c).liveSegs.toSeq.flatten
    val kept = segs.filter(keepDouble(fs, tablePath, c, _, lo, hi, column))
    rangeResidual(
      readSegsInferred(spark, tablePath, c, kept, segs), column,
      col(column).between(lit(lo), lit(hi)))
  }

  /** The [[readRangeDouble]] prune predicate: keep the segment unless
    * its recorded 'd' bounds PROVE it cannot intersect [lo, hi] under
    * Spark's float comparison semantics. */
  private def keepDouble(fs: FileSystem, tablePath: String, c: String,
      seg: Long, lo: Double, hi: Double, column: String): Boolean =
    readSegStats(fs, tablePath, c, seg).get(column) match {
      case Some(('d', mn, mx)) =>
        (mn.toDoubleOption, mx.toDoubleOption) match {
          case (Some(a), Some(b)) =>
            dCmpPred(a, hi) <= 0 && dCmpPred(b, lo) >= 0
          case _ => true // unparseable bounds: cannot prune
        }
      case _ => true
    }

  /** (kept, total) counts for a [[readRangeDouble]] plan — the
    * observability twin of [[rangeLongPlanned]]. */
  def rangeDoublePlanned(spark: SparkSession, tablePath: String,
      c: String, lo: Double, hi: Double, column: String): (Int, Int) = {
    val fs = fsOf(spark, tablePath)
    val segs = resolve(fs, tablePath, c).liveSegs.toSeq.flatten
    (segs.count(keepDouble(fs, tablePath, c, _, lo, hi, column)), segs.size)
  }

  /** Residual-predicate application shared by the range reads: an
    * ABSENT collection stays the defined empty the store promises
    * (Q7), but a live table missing the queried column fails loud —
    * silently returning every row unfiltered (or none) would be a
    * wrong answer wearing a plausible shape. */
  private def rangeResidual(df: DataFrame, column: String,
      pred: org.apache.spark.sql.Column): DataFrame =
    if (df.columns.contains(column)) df.where(pred)
    else if (df.isEmpty) df
    else throw new IllegalArgumentException(
      s"range read on '$column': no such column " +
        s"(has: ${df.columns.mkString(", ")})")

  /** Segment read for the range paths with the SCHEMA INFERRED from
    * the segments themselves — zone-mapped tables are not necessarily
    * chunk-shaped (a time-series table carries its own columns). Two
    * traps the naive inferred read falls into, both avoided here:
    *
    *   - `mergeSchema` is ON: without it Spark types the scan from
    *     ONE footer, and a column present only in other segments
    *     silently vanishes — fatal when [[compactCollection]] rewrites
    *     through this path (the column would be LOST once vacuum
    *     reclaims the inputs). A segment lacking a queried column has
    *     no stats for it and is therefore always conservatively kept,
    *     so the merge also guarantees the residual column resolves.
    *   - no `basePath`/partition discovery: partition-value TYPE
    *     inference would type `collection` from its value (a
    *     collection named "0123" reads back as the integer 123). The
    *     collection is a constant of the call — append it as a typed
    *     literal instead.
    *
    * A fully pruned read still needs a schema for its defined-empty
    * result: driver-side footer reads of the live segments (no job);
    * an absent collection falls back to the store's default chunk
    * shape. */
  private def readSegsInferred(spark: SparkSession, tablePath: String,
      c: String, kept: Seq[Long], allLive: Seq[Long]): DataFrame =
    if (kept.nonEmpty)
      spark.read.option("mergeSchema", "true")
        .parquet(kept.map(s => segDir(tablePath, c, s).toString): _*)
        .withColumn("collection", lit(c))
    else if (allLive.nonEmpty) {
      val schema = StructType(
        spark.read.option("mergeSchema", "true")
          .parquet(allLive.map(s => segDir(tablePath, c, s).toString): _*)
          .schema.fields.toSeq :+ StructField("collection", StringType))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    } else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        DocumentStore.chunkTableSchema)

  /** Write-side twin of [[readMany]]'s flat-layout loud-fail: a
    * manifest append into a PRE-EXISTING flat-layout table would write
    * `seg=` dirs and a `_manifest` next to the flat parquet — after
    * which `_manifest` exists, the read-side check never fires again,
    * and every manifest read silently SHADOWS all pre-existing flat
    * data. Refuse before touching anything: a collection dir holding
    * non-`seg=` entries (a `partitionBy("collection")` write's
    * `part-*.parquet` land directly in it) is flat-layout data written
    * outside this store — re-ingest it through ManifestStore into a
    * fresh table. */
  private def assertNotFlatLayout(fs: FileSystem, tablePath: String,
      c: String): Unit = {
    // a transient listing failure must NOT read as "not flat": this
    // guard exists to refuse before creating the permanent-shadowing
    // state, so an undecidable probe fails the WRITE loud (caller
    // retries) rather than waving it through
    def holdsFlatData(dir: Path): Boolean =
      fs.exists(dir) && fs.listStatus(dir).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("seg=") && !n.startsWith(".") && !n.startsWith("_")
      }
    // FIRST write to a table (no _manifest yet): sweep every
    // collection= dir at the root — a flat table's OTHER collections
    // would be shadowed just the same. One-time cost; once _manifest
    // exists the table is established manifest-layout and only the
    // target dir is probed (no per-append RPC storm over thousands of
    // collections).
    val suspects =
      if (!fs.exists(new Path(s"$tablePath/_manifest")) &&
          fs.exists(new Path(tablePath)))
        fs.listStatus(new Path(tablePath)).toSeq.map(_.getPath)
          .filter(_.getName.startsWith("collection="))
      else Seq(collectionDir(tablePath, c))
    suspects.find(holdsFlatData).foreach { dir =>
      throw new IllegalArgumentException(
        s"$dir holds non-seg= files: this is a flat collection-" +
          "partitioned parquet layout, not a manifest table - " +
          "re-ingest it through ManifestStore into a fresh table")
    }
  }

  /** WIDEN-ONLY schema evolution, enforced at the write door: a batch
    * may ADD columns (carried segments serve NULL for them through the
    * inferred read's footer union) and may OMIT columns (absent values
    * read as NULL), but a column whose NAME matches an existing table
    * column must keep the IDENTICAL type — a retype has no defined
    * path, and without this check it would not fail here but corrupt
    * quietly downstream (the footer-union read coerces int/string to
    * string, floods decimals to doubles, or throws mid-query far from
    * the write that caused it). A RENAME likewise has no defined path:
    * it is indistinguishable from drop+add at the write door, so what
    * lands is a widened table whose old column serves NULLs — do it
    * deliberately (new collection, or add-column + explicit rewrite),
    * never by just renaming a field in the pipeline. */
  /** Column-name key under the session's resolution rule: Spark
    * resolves case-INSENSITIVELY by default, so a case-variant
    * same-name column ("TXT" vs "txt") is the SAME column to every
    * read/union downstream — the door must see it that way too or a
    * case-variant retype slips through as a "new column". */
  private def nameKey(n: String, caseSensitive: Boolean): String =
    if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)

  private def caseSensitiveOf(spark: SparkSession): Boolean =
    spark.conf.get("spark.sql.caseSensitive", "false").toBoolean

  private def requireWidenOnly(existing: StructType, incoming: StructType,
      c: String, door: String, allowFamilyWidening: Boolean,
      caseSensitive: Boolean): Unit = {
    // The APPEND doors (store/storeBatch) land the batch's own parquet
    // type next to the existing segments', and the footer-union read
    // REFUSES even a lossless integral mix (Spark's parquet schema
    // merge: CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE on INT vs BIGINT) —
    // so appends require the exact type. The MERGE door rewrites
    // through a coercing DataFrame union, CONFORMS the batch to the
    // table's types, and writes ONE uniform type — so there a batch
    // column may widen INTO the table's same-family wider type
    // (int→long, float→double; the prune already unifies integral
    // keys to 'l'). DIRECTIONAL on purpose: the other way (a DOUBLE
    // batch into a FLOAT table, a LONG batch into an INT table) is a
    // NARROWING cast — silent precision loss or a CAST_OVERFLOW deep
    // in the rewrite job — and fails the door like any retype.
    // Cross-family anywhere (string vs int, decimal vs double,
    // timestamp vs long, nested changes) is a retype and fails.
    def widensInto(from: org.apache.spark.sql.types.DataType,
        to: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      val irank = Map[DataType, Int](
        ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
      val frank = Map[DataType, Int](FloatType -> 1, DoubleType -> 2)
      (irank.contains(from) && irank.contains(to) &&
        irank(from) <= irank(to)) ||
        (frank.contains(from) && frank.contains(to) &&
          frank(from) <= frank(to))
    }
    // nullability is NOT type identity here: footer-inferred columns
    // read back nullable/containsNull=true while an in-memory batch's
    // encoder marks them false — parquet does not care, neither does
    // this door
    def normNull(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = {
      import org.apache.spark.sql.types._
      dt match {
        case s: StructType => StructType(s.fields.map(f =>
          StructField(f.name, normNull(f.dataType), nullable = true)))
        case a: ArrayType =>
          ArrayType(normNull(a.elementType), containsNull = true)
        case m: MapType => MapType(normNull(m.keyType),
          normNull(m.valueType), valueContainsNull = true)
        case other => other
      }
    }
    val ex = existing.fields
      .map(f => nameKey(f.name, caseSensitive) -> f.dataType).toMap
    incoming.fields.foreach { f =>
      ex.get(nameKey(f.name, caseSensitive)).foreach { t =>
        require(normNull(t) == normNull(f.dataType) ||
            (allowFamilyWidening && widensInto(f.dataType, t)),
          s"$door on collection '$c': column '${f.name}' is " +
            s"${f.dataType.sql} in the batch but ${t.sql} in the table " +
            "- retyping a column has no defined path (schema evolution " +
            "is widen-only: new columns may be added, existing columns " +
            "keep their type; to retype or rename, rewrite into " +
            "a new collection)")
      }
    }
  }

  /** Per-segment footer schemas, memoized forever (segments never
    * mutate), SEEDED at write time by [[writeSegment]]/
    * [[writeClusteredSegments]] — so a long-lived writer's append
    * stream pays ZERO footer reads for its own segments. Keyed by
    * scheme-stripped URI path so the tombstone [[publish]]
    * invalidation prefix matches (path reuse after manifest
    * retirement, same argument as the pointer cache). */
  private val segSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def seedSegSchema(tablePath: String, c: String, seg: Long,
      schema: StructType): Unit = {
    if (segSchemaCache.size >= PtrCacheMax) segSchemaCache.clear()
    segSchemaCache.put(segDir(tablePath, c, seg).toUri.getPath, schema)
  }

  /** Cold-start bound for [[liveUnionSchema]]'s footer reads — beyond
    * it the append-door check covers the newest retained tail only
    * (advisory; a warm process has every segment either seeded at
    * write time or read once). */
  val SchemaCheckColdCap = 64

  /** The UNION of the live segments' footer schemas (newest-first,
    * first definition of a name wins — under the widen-only contract
    * all definitions agree), feeding the append doors'
    * [[requireWidenOnly]]: the union, not just the newest segment,
    * because OMITTING a column is legal — a retype of a column the
    * newest segment happens to omit must still fail the door, or the
    * committed segment breaks every later footer-union read.
    * ADVISORY like the sidecars: unreadable segments (racing
    * compaction) and segments beyond [[SchemaCheckColdCap]] uncached
    * reads are skipped rather than failing an append the commit
    * protocol would retry correctly. */
  private def liveUnionSchema(spark: SparkSession, tablePath: String,
      c: String, liveSegs: Seq[Long],
      caseSensitive: Boolean): Option[StructType] = {
    if (liveSegs.isEmpty) None
    else {
      var reads = 0
      val seen = scala.collection.mutable.LinkedHashMap
        .empty[String, org.apache.spark.sql.types.StructField]
      liveSegs.sorted(Ordering[Long].reverse).foreach { seg =>
        val dirKey = segDir(tablePath, c, seg).toUri.getPath
        val cached = Option(segSchemaCache.get(dirKey)).orElse {
          if (reads >= SchemaCheckColdCap) None
          else {
            reads += 1
            try {
              val s = spark.read
                .parquet(segDir(tablePath, c, seg).toString).schema
              if (segSchemaCache.size >= PtrCacheMax) segSchemaCache.clear()
              segSchemaCache.put(dirKey, s)
              Some(s)
            } catch { case scala.util.control.NonFatal(_) => None }
          }
        }
        cached.foreach(_.fields.foreach(f =>
          seen.getOrElseUpdate(nameKey(f.name, caseSensitive), f)))
      }
      if (seen.isEmpty) None else Some(StructType(seen.values.toSeq))
    }
  }

  /** Append `chunks` (one collection per call, the reference's /store
    * shape) as a NEW immutable segment: data lands fully, then one
    * pointer create makes it visible — an interrupted append is never
    * readable, published segments are never mutated, and a new
    * collection appears atomically. Schema-checked at the door
    * ([[requireWidenOnly]], against the newest live segment's footer —
    * the one segment every widen-only lineage's shared columns agree
    * with). */
  def store(chunks: DataFrame, tablePath: String, collection: String): Unit = {
    val spark = chunks.sparkSession
    val fs = fsOf(spark, tablePath)
    assertNotFlatLayout(fs, tablePath, collection)
    val r = resolve(fs, tablePath, collection)
    liveUnionSchema(spark, tablePath, collection,
        r.liveSegs.toSeq.flatten, caseSensitiveOf(spark)).foreach(
      requireWidenOnly(_, chunks.drop("collection").schema, collection,
        "store", allowFamilyWidening = false,
        caseSensitive = caseSensitiveOf(spark)))
    val seg = claimSeg(fs, tablePath, collection, r.nextSeg)
    writeSegment(chunks.drop("collection"), fs, tablePath, collection, seg)
    commitWithRetry(fs, tablePath, collection, r) { rr =>
      val live = rr.liveSegs.getOrElse(Seq.empty)
      // already listed ⇒ an earlier create reported an error but
      // actually landed (ambiguous PUT) — re-appending would read the
      // segment twice
      if (live.contains(seg)) None
      else Some(segsContent(live :+ seg))
    }
    releaseClaim(fs, tablePath, collection, seg)
  }

  /** IDEMPOTENT append: like [[store]], but the commit carries a
    * provenance `tag`, and a commit with the same tag already in the
    * retained pointer log is SKIPPED — the manifest-side half of
    * effective exactly-once ingest from an at-least-once source
    * (Structured Streaming's foreachBatch redelivers a batch after a
    * crash; the tag makes redelivery a no-op). Returns true iff a new
    * commit was published. The dedup window is the retained pointer
    * log: tagged pointers are held under [[vacuum]]'s dedicated tag
    * floor ([[DefaultTagRetentionMs]], 7 d — independent of the
    * general `minAgeMs`, so reclaiming data space cannot silently
    * shrink this window), which must exceed the source's replay
    * horizon — for a checkpointed stream that horizon is the last
    * uncommitted micro-batch, far inside the floor. */
  def storeBatch(chunks: DataFrame, tablePath: String, collection: String,
      tag: String): Boolean = {
    // a ';' inside the tag could let a crash-truncated pointer stop at
    // an embedded ';end' and still parse (the wrong-but-plausible class
    // the terminator exists to kill); an empty tag parses back to None
    // and would silently disable idempotency
    require(tag.nonEmpty && !tag.contains(';'),
      s"storeBatch tag must be non-empty and ';'-free, got '$tag'")
    val spark = chunks.sparkSession
    val fs = fsOf(spark, tablePath)
    assertNotFlatLayout(fs, tablePath, collection)
    val r = resolve(fs, tablePath, collection)
    if (r.seenTags.contains(tag)) false
    else {
      liveUnionSchema(spark, tablePath, collection,
          r.liveSegs.toSeq.flatten, caseSensitiveOf(spark)).foreach(
        requireWidenOnly(_, chunks.drop("collection").schema, collection,
          "storeBatch", allowFamilyWidening = false,
          caseSensitive = caseSensitiveOf(spark)))
      val seg = claimSeg(fs, tablePath, collection, r.nextSeg)
      writeSegment(chunks.drop("collection"), fs, tablePath, collection, seg)
      val won = commitWithRetry(fs, tablePath, collection, r) { rr =>
        val live = rr.liveSegs.getOrElse(Seq.empty)
        // the tag landing via ANOTHER writer (concurrent replay of the
        // same batch) abandons this commit — its orphan segment is
        // unreferenced and vacuumed; exactly one copy of the batch is
        // ever readable
        if (rr.seenTags.contains(tag) || live.contains(seg)) None
        else Some(segsContent(live :+ seg, Some(tag)))
      }
      releaseClaim(fs, tablePath, collection, seg)
      won
    }
  }

  /** Read schema = the chunk table + the `seg` partition
    * column (dropped after the scan). */
  private val segReadSchema: StructType = StructType(
    DocumentStore.chunkTableSchema.fields.toSeq :+
      StructField("seg", StringType))

  /** Read the current snapshot: each collection's pointer names its
    * exact live segment directories; the scan targets those only
    * (pruned listing — superseded segments are never even listed).
    * Absent/tombstoned collections read as a defined empty frame (Q7).
    */
  def read(spark: SparkSession, tablePath: String,
      collection: Option[String] = None): DataFrame =
    readMany(spark, tablePath,
      collection.map(Seq(_)).getOrElse(listCollections(spark, tablePath)))

  /** [[read]] over a NAMED set of collections: only their pointers are
    * resolved and only their live segments listed — the multi-search
    * path reads nothing of the store's other collections (the manifest
    * analogue of partition pruning by `collection IN (...)`). Unknown
    * or tombstoned names contribute nothing (Q7: defined empties). */
  def readMany(spark: SparkSession, tablePath: String,
      collections: Seq[String]): DataFrame = {
    val fs = fsOf(spark, tablePath)
    val paths = collections.distinct.flatMap { c =>
      resolve(fs, tablePath, c).liveSegs.toSeq.flatten
        .map(s => segDir(tablePath, c, s).toString)
    }
    // layout misconfiguration must fail LOUD, not read as empty: a
    // table with collection= data but no _manifest at all is a FLAT
    // collection-partitioned parquet table (an older release's layout,
    // or any Spark partitionBy("collection") job) being queried as a
    // manifest table — silently returning zero results is
    // indistinguishable from "no matching documents". (Only checked
    // when nothing resolved — the happy path pays no extra RPC; a
    // genuinely missing collection in a real manifest store still
    // reads as a defined empty, Q7.)
    if (paths.isEmpty &&
        !fs.exists(new Path(s"$tablePath/_manifest")) &&
        fs.exists(new Path(tablePath)) &&
        fs.listStatus(new Path(tablePath)).exists(
          _.getPath.getName.startsWith("collection=")))
      throw new IllegalArgumentException(
        s"$tablePath has collection= data but no _manifest: this is a " +
          "flat collection-partitioned parquet layout, not a manifest " +
          "table - re-ingest it through ManifestStore into a fresh table")
    readPaths(spark, tablePath, paths)
  }

  /** One collection's named segments as a chunk-table frame. */
  private def readSegs(spark: SparkSession, tablePath: String, c: String,
      segs: Seq[Long]): DataFrame =
    readPaths(spark, tablePath,
      segs.map(s => segDir(tablePath, c, s).toString))

  private def readPaths(spark: SparkSession, tablePath: String,
      paths: Seq[String]): DataFrame =
    if (paths.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], DocumentStore.chunkTableSchema)
    else
      spark.read.option("basePath", tablePath).schema(segReadSchema)
        .parquet(paths: _*)
        .select(DocumentStore.chunkTableSchema.fieldNames.toSeq.map(col): _*)

  /** Compact the live segment list into ONE new segment of
    * `targetFiles` files, committed by pointer — concurrent readers of
    * the old segments are undisturbed (their files stay until
    * [[vacuum]]), and there is no instant at which the collection reads
    * absent or partially compacted.
    *
    * `cluster = true` RANGE-CLUSTERS the rewrite on [[ZoneMapColumn]]
    * (repartitionByRange + sortWithinPartitions) instead of
    * round-robin `repartition`. Round-robin scatters every key range
    * across every output file, so after compaction the segment's zone
    * map spans the whole domain and every parquet footer spans the
    * whole domain — [[readRange]] can prune nothing and row-group
    * skipping dies. Clustered, each output file covers a disjoint key
    * range and the rows inside are sorted, so a point/range read
    * touches one file's worth of row groups. This is Delta's OPTIMIZE
    * ZORDER specialized to the single-column case (one column needs no
    * space-filling curve — a range sort IS the optimal clustering).
    * The extra cost over round-robin is the range-exchange's sampling
    * pass + an in-partition sort — both O(n log n) in the segment, and
    * compaction is already a full rewrite.
    *
    * The cluster key is the column CAST TO STRING — the ordering the
    * zone-map stats are collected under and [[readRange]] compares
    * with. Clustering on the natural type order instead would produce
    * files disjoint in an ordering no read path uses (for the store's
    * UUID-string `doc_id` the two coincide; for a numeric column they
    * do not). Note for non-string columns the residual predicate is a
    * cast-wrapped comparison that parquet footers cannot serve — the
    * pruning tiers that survive are the segment zone map and the
    * clustered file layout itself. */
  def compactCollection(spark: SparkSession, tablePath: String,
      c: String, targetFiles: Int = 1, cluster: Boolean = false): Unit = {
    val fs = fsOf(spark, tablePath)
    val r = resolve(fs, tablePath, c)
    if (r.liveSegs.isDefined) {
      // INFERRED schema, not the chunk contract: a generalized
      // (time-series) table's own columns must survive the rewrite —
      // the chunk-schema read would silently drop them from the
      // compacted segment
      val live = r.liveSegs.toSeq.flatten
      val rows = readSegsInferred(spark, tablePath, c, live, live)
        .drop("collection")
      if (cluster) require(rows.columns.contains(ZoneMapColumn),
        s"cluster=true needs column '$ZoneMapColumn' in collection '$c' " +
          s"(has: ${rows.columns.mkString(", ")})")
      val laid =
        if (cluster)
          rows.repartitionByRange(targetFiles,
              col(ZoneMapColumn).cast("string"))
            .sortWithinPartitions(col(ZoneMapColumn).cast("string"))
        else rows.repartition(targetFiles)
      val inputSegs = r.liveSegs.getOrElse(Seq.empty).toSet
      val seg = claimSeg(fs, tablePath, c, r.nextSeg)
      writeSegment(laid, fs, tablePath, c, seg)
      commitWithRetry(fs, tablePath, c, r) { rr =>
        rr.liveSegs match {
          // a racing append is preserved: the compacted segment
          // replaces exactly the inputs it rewrote, anything committed
          // since rides along (compacted data first — list order is
          // data age, the change feed's contract)
          case Some(live) if inputSegs.subsetOf(live.toSet) &&
              !live.contains(seg) =>
            Some(segsContent(seg +: live.filterNot(inputSegs.contains)))
          // concurrently deleted, or another compaction already
          // rewrote (some of) the inputs: this rewrite is moot — its
          // orphan segment is unreferenced and vacuumed
          case _ => None
        }
      }
      releaseClaim(fs, tablePath, c, seg)
    }
  }

  /** One live segment's operational metadata ([[segmentInfo]]):
    * bytes/files from the directory listing, key bounds from the
    * zone-map sidecar (None when the sidecar is missing or lacks the
    * column — such segments sort last in the plan's key order). */
  final case class SegmentInfo(seg: Long, bytes: Long, files: Int,
      keyLo: Option[String], keyHi: Option[String])

  /** Metadata-only segment inventory: every live segment with its byte
    * size, file count, and recorded bounds for `column` — the input to
    * compaction policy, at pointer + listing cost (no data read, no
    * Spark job). */
  def segmentInfo(spark: SparkSession, tablePath: String, c: String,
      column: String = ZoneMapColumn): Seq[SegmentInfo] = {
    val fs = fsOf(spark, tablePath)
    resolve(fs, tablePath, c).liveSegs.toSeq.flatten.map { seg =>
      val (bytes, files) =
        try {
          val sts = fs.listStatus(segDir(tablePath, c, seg))
            .filter(st => !st.isDirectory &&
              !st.getPath.getName.startsWith("_") &&
              !st.getPath.getName.startsWith("."))
          (sts.map(_.getLen).sum, sts.length)
        } catch { case _: java.io.IOException => (0L, 0) }
      val bounds = readSegStats(fs, tablePath, c, seg).get(column)
      SegmentInfo(seg, bytes, files,
        bounds.map(_._2), bounds.map(_._3))
    }
  }

  /** Small-file compaction PLAN (the `OPTIMIZE` advisor): group live
    * segments smaller than `smallBytes` into key-adjacent groups of at
    * most `targetBytes` each — the bounded work-list that makes
    * compaction INCREMENTAL. At 100 TB a collection is never compacted
    * whole: ingest continuously produces small segments at the head,
    * and the maintenance job compacts exactly the groups this plan
    * proposes ([[compactSegments]]), leaving every healthy segment
    * untouched. Key adjacency (sidecar lower bounds; stat-less
    * segments sort last) keeps the rewritten segments' ranges tight so
    * zone-map pruning survives the rewrite. Pure metadata: no data is
    * read and no job runs. Groups of one are dropped — compacting a
    * single segment is a no-op layout-wise. */
  def compactionPlan(spark: SparkSession, tablePath: String, c: String,
      targetBytes: Long, smallBytes: Long): Seq[Seq[Long]] = {
    require(smallBytes <= targetBytes,
      s"smallBytes ($smallBytes) must not exceed targetBytes ($targetBytes)")
    // key adjacency must read bounds for the TABLE'S configured
    // zone-map key (the column compactSegments clusters on), not the
    // global default — with a reconfigured key the default column has
    // no sidecar stats and adjacency would silently degrade to
    // segment-number order, loosening the rewritten ranges
    val planCol = zoneMapColumnsOf(fsOf(spark, tablePath), tablePath)
      .headOption.getOrElse(ZoneMapColumn)
    val small = segmentInfo(spark, tablePath, c, planCol)
      .filter(_.bytes < smallBytes)
      .sortWith { (a, b) =>
        (a.keyLo, b.keyLo) match {
          case (Some(x), Some(y)) =>
            val d = utf8Cmp(x, y); if (d != 0) d < 0 else a.seg < b.seg
          case (Some(_), None) => true
          case (None, Some(_)) => false
          case (None, None) => a.seg < b.seg
        }
      }
    val groups = Seq.newBuilder[Seq[Long]]
    var cur = Seq.newBuilder[Long]
    var curBytes = 0L
    var curN = 0
    small.foreach { si =>
      if (curN > 0 && curBytes + si.bytes > targetBytes) {
        if (curN >= 2) groups += cur.result()
        cur = Seq.newBuilder[Long]; curBytes = 0L; curN = 0
      }
      cur += si.seg; curBytes += si.bytes; curN += 1
    }
    if (curN >= 2) groups += cur.result()
    groups.result()
  }

  /** INCREMENTAL compaction — rewrite ONLY `segs` (one
    * [[compactionPlan]] group) into a single clustered segment,
    * committed atomically replacing exactly those inputs; every other
    * live segment is untouched — not read, not listed, byte-identical
    * after the commit. Clusters by the table's first zone-map column
    * when the subset carries it (fresh tight sidecar via
    * [[writeSegment]]); layout-only, so a lost rewrite race abandons
    * (the [[compactCollection]] contract) — returns true iff this
    * rewrite committed. Full-collection `compactCollection` /
    * [[zorderCompact]] remain the deep-maintenance paths; this is the
    * continuous one. */
  def compactSegments(spark: SparkSession, tablePath: String, c: String,
      segs: Seq[Long]): Boolean = {
    require(segs.nonEmpty, "compactSegments needs a non-empty group")
    val fs = fsOf(spark, tablePath)
    val r = resolve(fs, tablePath, c)
    val live = r.liveSegs.toSeq.flatten.toSet
    require(segs.toSet.subsetOf(live),
      s"group ${segs.mkString(",")} not all live in '$c' " +
        s"(live: ${live.toSeq.sorted.mkString(",")}) - re-plan")
    val rows = readSegsInferred(spark, tablePath, c, segs, segs)
      .drop("collection")
    val zmCol = zoneMapColumnsOf(fs, tablePath)
      .find(rows.columns.contains)
    val laid = zmCol match {
      case Some(k) => rows
        .repartitionByRange(1, col(k).cast("string"))
        .sortWithinPartitions(col(k).cast("string"))
      case None => rows.repartition(1)
    }
    val inputSet = segs.toSet
    val seg = claimSeg(fs, tablePath, c, r.nextSeg)
    writeSegment(laid, fs, tablePath, c, seg)
    val won = commitWithRetry(fs, tablePath, c, r) { rr =>
      rr.liveSegs match {
        case Some(nowLive) if inputSet.subsetOf(nowLive.toSet) &&
            !nowLive.contains(seg) =>
          Some(segsContent(seg +: nowLive.filterNot(inputSet.contains)))
        case _ => None // layout-only: abandon, orphan ages out
      }
    }
    releaseClaim(fs, tablePath, c, seg)
    won
  }

  /** Order-preserving numeric proxy for a STRING z-order axis: the
    * first 7 UTF-8 BYTES — exactly the bytes Spark's own string
    * comparison walks — right-padded with 0x00 and packed big-endian
    * into one positive long, so the shared numeric quantile-cut
    * machinery buckets string axes too. Byte-PREFIX packing is
    * monotone w.r.t. the full byte-lexicographic order by
    * construction (a per-CHARACTER map is not: two codepoints tying
    * under any clamp let a longer string sort above a byte-greater
    * shorter one — caught by the PropertySpec random-unicode pin).
    * Strings sharing their first 7 bytes tie, which can only coarsen
    * clustering; pruning stays proof-based on the segments' full
    * 's'-kind bounds. Null in, null out — null strings land in
    * bucket 0 exactly like null numerics. */
  private[graft] def strOrdProxy(c: Column): Column = {
    import org.apache.spark.sql.functions.{coalesce, conv, encode, hex,
      rpad, substring}
    val h = rpad(hex(substring(encode(c, "UTF-8"), 1, 7)), 14, "0")
    when(c.isNotNull, coalesce(conv(h, 16, 10).cast("long"), lit(0L)))
  }

  /** Bits per dimension in [[zorderCompact]]'s interleave: 4 bits =
    * 16 quantile buckets per column — segment-level clustering needs
    * far fewer distinctions than row-level sorting (a 16×16 z-grid
    * already separates dozens of segments cleanly), and the bucket
    * when-chain stays shallow in codegen. */
  val ZOrderBits = 4

  /** Z-ORDER re-clustering compaction (the Delta `OPTIMIZE ZORDER`
    * analogue): rewrite a collection's live segments into `segments`
    * NEW segments laid out along a Morton curve over `cols`, committed
    * atomically by one pointer. The point is MULTI-column zone-map
    * pruning: single-column clustering ([[compactCollection]]
    * `cluster = true`) makes one column's per-segment ranges tight and
    * smears every other's; interleaving quantile-bucket bits gives
    * every z-order column ranges ~`2^ZOrderBits`-fold tighter than
    * random layout, so `readRange`/`readRangeLong` prunes segments on
    * ANY of them — at 100 TB that is directory-level pruning for both
    * "by time" and "by user" queries out of one layout.
    *
    * Mechanics: per-column quantile cuts (one driver-side
    * `approxQuantile` pass) → 4-bit buckets → bit-interleaved z value
    * → `repartitionByRange(segments, z)` with an in-partition sort
    * (rows also z-sorted inside each segment, so parquet row-group
    * stats inherit the clustering one level down); the partitions land
    * in their claimed segments via [[writeClusteredSegments]] — one
    * stats job + one partitioned write job over the persisted
    * z-annotated frame, O(data) regardless of segment count. The
    * commit replaces exactly the input segments; racing appends ride
    * along; a lost rewrite race abandons (orphan segments age out
    * under [[vacuum]]) — the [[compactCollection]] protocol,
    * list-extended. NULLs bucket low (cluster together at the curve's
    * origin).
    *
    * `transform` rewrites the input ROWS before clustering — for
    * READER-EQUIVALENT folds only (e.g. collapsing additive stats
    * rows that every reader sums, [[graft.operators.TextAnalysis
    * .compactManifestTextIndex]]): it must preserve the collection
    * schema and the meaning of every read. The abandon-on-race
    * protocol stays sound because a fold, like the layout itself, is
    * an optimization a reader can never observe — and segments
    * appended DURING the rewrite keep their own (unfolded, still
    * additive) rows, which sum correctly beside the folded row. */
  def zorderCompact(spark: SparkSession, tablePath: String, c: String,
      cols: Seq[String], segments: Int,
      transform: DataFrame => DataFrame = identity): Unit = {
    require(cols.nonEmpty && segments >= 1)
    val fs = fsOf(spark, tablePath)
    val r = resolve(fs, tablePath, c)
    if (r.liveSegs.isEmpty) return
    val live = r.liveSegs.toSeq.flatten
    val newSegs = zorderSegsCore(spark, tablePath, c, cols, segments,
      transform, r, live)
    // the full compact re-clusters everything: the advisory z-state
    // becomes exactly the new segment set
    if (newSegs.nonEmpty) writeZState(fs, tablePath, c, newSegs)
  }

  /** INCREMENTAL z-order maintenance (the partial-OPTIMIZE analogue —
    * Delta/Iceberg both re-cluster subsets, because at 100 TB a full
    * [[zorderCompact]] per ingest batch is unpayable write
    * amplification): re-cluster ONLY the live segments appended since
    * the last z-order (the "tail"), leaving the already-clustered base
    * byte-identical on disk. Maintain cost is proportional to the TAIL,
    * not the corpus.
    *
    * Which segments are already clustered comes from an ADVISORY
    * z-state sidecar written after each z-order commit — advisory like
    * every sidecar: correctness NEVER depends on it (pruning stays
    * proof-based on each segment's real zone-map bounds), a stale or
    * torn state only costs re-clustering work (missing state =
    * everything is tail = a full re-cluster; state naming since-replaced
    * segments self-heals because the tail is live ∖ state). The tail's
    * quantile cuts come from the tail's own rows — tail segments
    * interleave both axes over the TAIL's value region, which is what
    * bounds their zone maps; they need not share the base's grid.
    *
    * Returns the number of tail segments re-clustered (0 = nothing to
    * do, or the layout-only commit was abandoned to a racing writer —
    * the next maintain retries, same as compaction). */
  def zorderMaintain(spark: SparkSession, tablePath: String, c: String,
      cols: Seq[String], segments: Int): Int = {
    require(cols.nonEmpty && segments >= 1)
    val fs = fsOf(spark, tablePath)
    val r = resolve(fs, tablePath, c)
    if (r.liveSegs.isEmpty) return 0
    val live = r.liveSegs.toSeq.flatten
    val clustered = readZState(fs, tablePath, c).toSet
    val tail = live.filterNot(clustered)
    if (tail.isEmpty) return 0
    val newSegs = zorderSegsCore(spark, tablePath, c, cols, segments,
      identity, r, tail)
    if (newSegs.isEmpty) 0
    else {
      // state = surviving base + the fresh tail segments; best-effort
      // AFTER the commit (a crash between leaves stale state, which
      // only re-clusters the new segments next time)
      writeZState(fs, tablePath, c,
        (clustered.intersect(live.toSet) ++ newSegs).toSeq.sorted)
      tail.size
    }
  }

  /** Shared z-order core: cluster `inputSegs`' rows on `cols` into up
    * to `segments` z-range segments and commit the PRUNED rewrite
    * (inputs replaced, every other live segment carried). Returns the
    * new segment ids, empty when nothing was written or the commit was
    * abandoned (an input segment vanished under a racing writer —
    * layout-only work may abandon; orphan segments age out under
    * vacuum, claims released either way). */
  private def zorderSegsCore(spark: SparkSession, tablePath: String,
      c: String, cols: Seq[String], segments: Int,
      transform: DataFrame => DataFrame, r: Resolved,
      inputSegs: Seq[Long]): Seq[Long] = {
    val fs = fsOf(spark, tablePath)
    val live = r.liveSegs.toSeq.flatten
    val rows = transform(
      readSegsInferred(spark, tablePath, c, inputSegs, live)
        .drop("collection"))
    cols.foreach(n => require(rows.columns.contains(n),
      s"zorder column '$n' not in collection '$c' " +
        s"(has: ${rows.columns.mkString(", ")})"))
    val nBuckets = 1 << ZOrderBits
    val probes = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    // quantile cuts per column: numeric axes directly; STRING axes
    // through the order-preserving packed-prefix proxy (their 's'
    // zone-map kind orders by UTF-8 bytes and the proxy follows that
    // order on the leading bytes, which is all CLUSTERING needs —
    // pruning stays proof-based on each segment's full string bounds
    // regardless, so a proxy tie can only cost layout quality, never
    // correctness)
    val zCol = cols.zipWithIndex.map { case (n, ci) =>
      val isStr = rows.schema(n).dataType ==
        org.apache.spark.sql.types.StringType
      val axis: Column = if (isStr) strOrdProxy(col(n)) else col(n)
      val cuts =
        if (isStr) rows.select(strOrdProxy(col(n)).as("__ord"))
          .stat.approxQuantile("__ord", probes, 0.001)
        else rows.stat.approxQuantile(n, probes, 0.001)
      val bucket = cuts.map(cv =>
        when(axis > cv, lit(1L)).otherwise(lit(0L)))
        .reduceLeft[Column](_ + _)
      (0 until ZOrderBits).map(j =>
        shiftright(bucket, j).bitwiseAND(lit(1L)) *
          lit(1L << (j * cols.length + ci))).reduceLeft(_ + _)
    }.reduceLeft(_ + _)
    val laid = rows.withColumn("__z", zCol)
      .repartitionByRange(segments, col("__z"))
      .sortWithinPartitions(col("__z"))
      .withColumn("__part", spark_partition_id())
      .drop("__z")
      .persist()
    try {
      // only the non-empty range partitions become segments (an empty
      // segment has no stats, so keepLong could never prune it)
      val newSegs = writeClusteredSegments(laid, fs, tablePath, c, r.nextSeg)
      if (newSegs.isEmpty) return Seq.empty
      val inputSet = inputSegs.toSet
      val landed = commitWithRetry(fs, tablePath, c, r) { rr =>
        rr.liveSegs match {
          case Some(nowLive) if inputSet.subsetOf(nowLive.toSet) &&
              !newSegs.exists(nowLive.contains) =>
            Some(segsContent(
              newSegs ++ nowLive.filterNot(inputSet.contains)))
          case _ => None
        }
      }
      newSegs.foreach(releaseClaim(fs, tablePath, c, _))
      if (landed) newSegs else Seq.empty
    } finally laid.unpersist()
  }

  /** Skew bound for the PRE-UPGRADE mtime fallback's contribution to
    * the stamp floor (see [[resolveAt]]'s floor computation) — a day
    * covers any sane clock drift; body instants are never capped. */
  val MaxFallbackSkewMs: Long = 24L * 3600 * 1000

  private val ZStatePrefix = "zsegs:"

  /** ADVISORY clustered-segment state for [[zorderMaintain]], one file
    * per collection in the manifest dir (`zstate` — no `ptr-`/`claim-`
    * prefix, so resolution and vacuum ignore it). Torn or absent reads
    * as empty: the next maintain simply re-clusters more than it had
    * to. Overwrite-in-place is fine for a hint (the one non-advisory
    * write in this store is the pointer, and this is not one). */
  private def zStatePath(tablePath: String, c: String): Path =
    new Path(manifestDir(tablePath, c), "zstate")

  private def writeZState(fs: FileSystem, tablePath: String, c: String,
      segs: Seq[Long]): Unit =
    try {
      val out = fs.create(zStatePath(tablePath, c), true)
      try out.write((segs.map(s => f"$s%06d")
        .mkString(ZStatePrefix, ",", SegsSuffix)).getBytes("UTF-8"))
      finally out.close()
    } catch { case _: java.io.IOException => () /* advisory */ }

  private[sources] def readZState(fs: FileSystem, tablePath: String,
      c: String): Seq[Long] =
    readPtr(fs, zStatePath(tablePath, c)) match {
      case Some(s) if s.startsWith(ZStatePrefix) &&
          s.endsWith(SegsSuffix) =>
        val parts = s.stripPrefix(ZStatePrefix).stripSuffix(SegsSuffix)
          .split(",").toSeq
        val nums = parts.flatMap(_.trim.toLongOption)
        if (nums.length == parts.length) nums else Seq.empty
      case _ => Seq.empty
    }

  /** Delete = publish a tombstone pointer (O11). Pure metadata — the
    * data outlives the pointer until [[vacuum]], so in-flight readers
    * finish; new readers see a defined empty collection immediately. */
  def deleteCollection(spark: SparkSession, tablePath: String,
      c: String): Unit = {
    val fs = fsOf(spark, tablePath)
    val r = resolve(fs, tablePath, c)
    if (r.liveSegs.isDefined)
      commitWithRetry(fs, tablePath, c, r) { rr =>
        // already tombstoned (possibly by a racing delete) ⇒ done
        if (rr.liveSegs.isDefined) Some(Tombstone) else None
      }
  }

  /** Age of a candidate directory for the vacuum guard: the newest
    * mtime of the directory and every FILE under it, recursively —
    * S3-class stores report 0/meaningless mtimes for inferred
    * directory entries, but the files (actual objects) carry real
    * timestamps, and an in-flight Spark write stages them arbitrarily
    * deep (`_temporary/<attempt>/...`), so one level down is not
    * enough. Returns Long.MaxValue ("young — do not touch") when the
    * directory vanished mid-sweep (a concurrent writer re-targeting
    * the number, or another vacuum) or when NO real timestamp exists
    * at all (zero is "meaningless", never "old"). */
  private def newestMtime(fs: FileSystem, p: Path): Long =
    try {
      // plain listStatus recursion, not listFiles(recursive): the
      // LocatedFileStatus path needs block locations/permissions that
      // non-default FileSystem schemes don't always serve
      def walk(st: org.apache.hadoop.fs.FileStatus): Long =
        if (!st.isDirectory) st.getModificationTime
        else (st.getModificationTime +:
          fs.listStatus(st.getPath).toSeq.map(walk)).max
      val newest = walk(fs.getFileStatus(p))
      if (newest == 0L) Long.MaxValue else newest
    } catch { case _: java.io.IOException => Long.MaxValue }

  /** "Now" as the STORE observes it: the mtime of a freshly written
    * probe object, not the vacuum host's clock — [[vacuum]]'s age
    * guard compares against mtimes the STORE stamped on segment
    * files, so clock skew between the vacuum host and the store would
    * silently eat into (or inflate) the safety margin. The probe is
    * best-effort: if the store reports no usable mtime, fall back to
    * the client clock (and the skew assumption is then the caller's —
    * keep `minAgeMs` well above any plausible skew). */
  private def storeNow(fs: FileSystem, tablePath: String): Long = {
    val probe = new Path(s"$tablePath/_manifest/.vacuum-probe")
    try {
      // probe ONLY inside an existing _manifest: fs.create would mkdir
      // the parent, and a vacuum mistakenly pointed at a FLAT-layout
      // table would thereby plant a _manifest there — permanently
      // defeating readMany's flat-layout loud-fail (which keys on
      // _manifest's absence) and turning manifest reads of that table
      // into silent empties. No manifest → client clock (the skew
      // assumption is then the caller's).
      if (!fs.exists(new Path(s"$tablePath/_manifest")))
        return System.currentTimeMillis()
      val out = fs.create(probe, true)
      try out.write('t'.toInt) finally out.close()
      val t = fs.getFileStatus(probe).getModificationTime
      fs.delete(probe, false)
      if (t > 0L) t else System.currentTimeMillis()
    } catch {
      case _: java.io.IOException => System.currentTimeMillis()
    }
  }

  /** Garbage-collect history: superseded pointer files (so
    * [[resolve]]'s cost tracks the vacuum cadence, not total commit
    * history) and every segment no RETAINED pointer references —
    * superseded, abandoned (crashed-write), and tombstoned data alike —
    * subject to the age guard `minAgeMs` ([[newestMtime]], against the
    * store-observed clock [[storeNow]]), which is what keeps a
    * concurrent writer's not-yet-committed segment and recent readers'
    * snapshots safe. Returns the removed paths.
    *
    * Two invariants tie retention together (both spec-pinned):
    *
    *   - **The retained log is a contiguous SUFFIX** — pruning walks
    *     the log oldest-first and STOPS at the first pointer it must
    *     keep (too young, or tagged within `tagMinAgeMs`,
    *     [[DefaultTagRetentionMs]] — the [[storeBatch]] idempotency
    *     window an aggressive `minAgeMs` must not reopen). No holes:
    *     [[readAsOf]]/[[readSince]] either resolve the exact commit
    *     history or throw, never silently skip across a pruned gap to
    *     an older commit.
    *   - **Every retained version stays READABLE**: the segment sweep
    *     keeps the union of segments referenced by retained pointers,
    *     not just the live list — [[listVersions]] never advertises a
    *     version whose data was swept out from under it. The flip
    *     side: a pointer held back (age or tag floor) holds its
    *     segments too, so for a tagged-ingest collection the
    *     EFFECTIVE data-retention floor is the tag floor — lower
    *     `tagMinAgeMs` (keeping it above the replay horizon) to
    *     reclaim sooner. */
  /** [[vacuum]] DRY RUN — the `VACUUM ... DRY RUN` advisor: the exact
    * selection logic (same age guards, same retained-log analysis)
    * with every delete suppressed; returns what a real pass would
    * remove right now. Cascaded effects that depend on earlier
    * deletions within the same pass (a tombstoned collection's
    * manifest retirement requires its data dir to be ALREADY gone)
    * are reported by the pass that would perform them — identical to
    * real vacuum's multi-pass behavior. */
  def vacuumPlan(spark: SparkSession, tablePath: String,
      minAgeMs: Long = DefaultVacuumMinAgeMs,
      tagMinAgeMs: Long = DefaultTagRetentionMs): Seq[String] =
    vacuum(spark, tablePath, minAgeMs, tagMinAgeMs, dryRun = true)

  def vacuum(spark: SparkSession, tablePath: String,
      minAgeMs: Long = DefaultVacuumMinAgeMs,
      tagMinAgeMs: Long = DefaultTagRetentionMs,
      dryRun: Boolean = false): Seq[String] = {
    val fs = fsOf(spark, tablePath)
    val base = new Path(tablePath)
    if (!fs.exists(base)) return Seq.empty
    val now = storeNow(fs, tablePath)
    val cutoff = now - minAgeMs
    val tagCutoff = now - math.max(minAgeMs, tagMinAgeMs)
    val dataCols = fs.listStatus(base).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("collection="))
      .map(n => unesc(n.stripPrefix("collection=")))
    val removed = Seq.newBuilder[String]
    (dataCols ++ listCollections(spark, tablePath)).distinct.foreach { c =>
      val r = resolve(fs, tablePath, c)
      // pointer log first: what survives defines which segments
      // history still needs. Commits below the deciding pointer are
      // history (the deciding one carries the live list, and every
      // commit's list contains the global max segment number, so
      // numbering stays monotone while any body is retained; a log
      // pruned to a bare tombstone restarts numbering at 1, which is
      // safe because every pointer pruned here is older than its own
      // segments' age floor — anything a restarted number could
      // overwrite is unreferenced garbage past the guard).
      val mdir = manifestDir(tablePath, c)
      val reads = if (!fs.exists(mdir)) Seq.empty else
        fs.listStatus(mdir).toSeq
          .flatMap(st => st.getPath.getName.stripPrefix(PtrPrefix)
            .toLongOption.map(_ -> st))
          .sortBy(_._1)
          .map { case (seq, st) =>
            (seq, st, readPtrEither(fs, st.getPath))
          }
      // a TRANSIENTLY unreadable pointer says nothing about its
      // commit: misclassifying it as plain/invalid would prune a
      // tagged idempotency pointer, sweep segments a retained version
      // references, or retire a live manifest. Vacuum is maintenance —
      // skip THIS collection for this pass and let the next one retry.
      if (!reads.exists(_._3.isLeft)) {
      val log = reads.map { case (seq, st, body) =>
        (seq, st, body.toOption.filter(_.nonEmpty).flatMap(parseBody))
      }
      val deletable = if (r.decidedSeq == 0L) Seq.empty else
        log.takeWhile { case (seq, st, body) =>
          // mtime from the listing itself: no re-fetch RPC; tagged
          // commits are the replay-idempotency window and outlive
          // plain history by the tag floor
          val floor = if (body.exists(_._2.isDefined)) tagCutoff else cutoff
          seq < r.decidedSeq && st.getModificationTime != 0L &&
            st.getModificationTime < floor
        }
      deletable.foreach { case (_, st, _) =>
        if (!dryRun) fs.delete(st.getPath, false)
        removed += st.getPath.toString
      }
      // every version still in the log keeps its segments readable
      val keepSegs = (log.drop(deletable.size).flatMap(_._3).flatMap(_._1)
        ++ r.liveSegs.toSeq.flatten).map(segName).toSet
      val cdir = collectionDir(tablePath, c)
      if (fs.exists(cdir)) {
        fs.listStatus(cdir).toSeq.map(_.getPath)
          .filter(p => p.getName.startsWith("seg=") &&
            !keepSegs.contains(p.getName) &&
            newestMtime(fs, p) < cutoff)
          .foreach { p =>
            if (!dryRun) fs.delete(p, true)
            removed += p.toString
          }
        // a tombstoned collection with every segment swept leaves an
        // empty dir — drop it so the store listing stays clean
        if (keepSegs.isEmpty && fs.exists(cdir) &&
            fs.listStatus(cdir).isEmpty) {
          if (!dryRun) fs.delete(cdir, true)
          removed += cdir.toString
        }
      }
      // zone-map sidecars follow their segments: one whose segment is
      // no longer retained is dead metadata. Age-guarded like the data
      // (a sidecar just written for a still-uncommitted segment is
      // younger than the cutoff and survives).
      if (fs.exists(mdir)) {
        fs.listStatus(mdir).toSeq
          .filter { st =>
            val n = st.getPath.getName
            n.startsWith(StatsPrefix) &&
            n.stripPrefix(StatsPrefix).toLongOption.exists(s =>
              !keepSegs.contains(segName(s))) &&
            st.getModificationTime != 0L &&
            st.getModificationTime < cutoff
          }
          .foreach { st =>
            if (!dryRun) fs.delete(st.getPath, false)
            removed += st.getPath.toString
          }
      }
      // segment-number CLAIMS follow the same lifecycle: a claim whose
      // segment is RETAINED is dead weight (numbering has moved past
      // it via the pointer log — it can never be re-issued), deletable
      // unguarded; a claim with no committed segment is either an
      // in-flight writer's (young — the age guard protects it exactly
      // like its half-written segment dir) or a crashed writer's
      // (aged out — swept together with its orphan segment above).
      if (fs.exists(mdir)) {
        fs.listStatus(mdir).toSeq
          .filter { st =>
            val n = st.getPath.getName
            n.startsWith(ClaimPrefix) &&
            n.stripPrefix(ClaimPrefix).toLongOption.exists { s =>
              keepSegs.contains(segName(s)) ||
              (st.getModificationTime != 0L &&
                st.getModificationTime < cutoff)
            }
          }
          .foreach { st =>
            if (!dryRun) fs.delete(st.getPath, false)
            removed += st.getPath.toString
          }
      }
      // tombstone RETIREMENT: once a tombstoned collection's data is
      // fully reclaimed and its entire log (the tombstone included) is
      // past its floor — the TAG floor for tagged commits, same
      // per-pointer rule as the prune, so an in-window idempotency
      // pointer blocks retirement directly, not just via the data dir —
      // the manifest dir itself goes: without this, every create/delete
      // cycle leaks one manifest dir and a permanent listCollections
      // entry. Safe to restart numbering: no segment data remains, a
      // surviving (young) claim blocks retirement for this pass, and a
      // writer stalled PAST the age floor is outside the vacuum
      // contract (same exposure as its half-written segment dir).
      if (r.decidedSeq > 0L && r.liveSegs.isEmpty && !fs.exists(cdir) &&
          log.nonEmpty && log.forall { case (_, st, body) =>
            val floor = if (body.exists(_._2.isDefined)) tagCutoff else cutoff
            st.getModificationTime != 0L && st.getModificationTime < floor
          } && fs.exists(mdir) &&
          !fs.listStatus(mdir).exists(
            _.getPath.getName.startsWith(ClaimPrefix))) {
        // NOT a recursive delete: a resurrecting writer may create a
        // claim between the listing above and this delete, and a
        // recursive rm would erase it — re-opening the
        // duplicate-segment-number race the claims exist to close.
        // Delete exactly the files the listing showed, then remove the
        // dir NON-recursively: if anything (a fresh claim) landed in
        // the window, the rmdir fails on non-empty and retirement
        // simply waits for the next pass.
        try {
          if (!dryRun) {
            fs.listStatus(mdir)
              .filterNot(_.getPath.getName.startsWith(ClaimPrefix))
              .foreach(st => fs.delete(st.getPath, false))
            fs.delete(mdir, false)
          }
          removed += mdir.toString
        } catch { case _: java.io.IOException => () /* next pass */ }
      }
      } // readable-log guard
    }
    removed.result()
  }
}
