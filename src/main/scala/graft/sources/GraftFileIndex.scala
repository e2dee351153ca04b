package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or, StartsWith}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst-integrated [[FileIndex]] over one manifest collection —
  * the Delta-`TahoeFileIndex` pattern: the OPTIMIZER's own data
  * filters drive segment skipping at planning time, and Spark's
  * native vectorized parquet reader (whole-stage codegen, row-group
  * pushdown) does every byte of IO. This is the query-side face of
  * the same metadata the imperative API serves
  * ([[ManifestStore.readRange]]/[[ManifestStore.readPointLong]] and
  * their siblings), and BOTH faces skip through the one prover in the
  * companion object ([[GraftFileIndex.excludes]]): the imperative
  * readers hand it the Catalyst predicate their arguments describe,
  * this index hands it the query's filters. A plain
  * `df.where(col("ts_us").between(a, b))` — or the SQL a BI tool
  * emits against a `USING graft` view — prunes segments by zone-map
  * sidecars, equality probes additionally consult the bloom
  * sidecars, and the surviving files still carry the full residual
  * predicate (pruning is a strict optimization, never the filter).
  *
  * Snapshot semantics: the live segment list is PINNED at
  * construction (the manifest's immutable-snapshot discipline — a
  * query plans and executes against one version even while writers
  * commit); [[refresh]] re-pins. Schema is the segments' own merged
  * (inferred) schema, like the `*Inferred` reads — the chunk-schema
  * contract does not apply here — WITHOUT the synthetic `collection`
  * literal column those reads append.
  *
  * Pruning is proof-based and conservative, the sidecar discipline:
  * a segment is dropped only when a filter PROVES no row can match —
  * missing/torn sidecars, non-literal comparisons, casts, and
  * unrecognized shapes prove nothing and keep the segment. `And`
  * needs one excluding conjunct, `Or` needs both branches excluding.
  * Kind discipline: 'l' bounds serve integral literals numerically,
  * 'd' bounds serve floating literals under Spark's float semantics,
  * 's' bounds serve string literals in UTF-8 byte order
  * ([[ManifestStore.utf8Cmp]]) — the orders disagree ("9" > "10" as
  * strings), so a bound of another kind proves nothing — and a
  * recorded non-null count of ZERO excludes every null-rejecting
  * predicate on that column. At 100 TB the sidecars are one small
  * object per segment, read driver-side once each
  * ([[ManifestStore.readSidecar]]) and memoized per index instance —
  * the same planning cost Delta/Iceberg pay for their stats, with no
  * executor involvement. */
final class GraftFileIndex(spark: SparkSession, tablePath: String,
    collection: String, asOfSeq: Long = Long.MaxValue) extends FileIndex {

  private val fs: FileSystem = ManifestStore.fsOf(spark, tablePath)

  /** Time travel: a non-default `asOfSeq` pins the snapshot to the
    * state just after that commit ([[ManifestStore.resolveAt]]'s
    * ceiling — the `versionAsOf` reader option), with [[readAsOf]]'s
    * resolvability contract: an unretained (vacuumed) or never-
    * committed version is an ERROR, never an empty frame. */
  private def resolveSegs(): Seq[Long] = {
    val r = ManifestStore.resolveAt(fs, tablePath, collection, asOfSeq)
    if (asOfSeq != Long.MaxValue)
      require(r.decidedSeq > 0L,
        s"snapshot $asOfSeq of collection '$collection' is not " +
          "resolvable: " + (if (r.minRetainedSeq > 0L)
            s"oldest retained commit is ${r.minRetainedSeq} (earlier " +
              "history was vacuumed or never existed)"
          else "the collection has no committed history"))
    r.liveSegs.toSeq.flatten
  }

  @volatile private var segs: Seq[Long] = resolveSegs()

  // sidecar + listing memos — per index instance, invalidated by
  // refresh()
  private val sidecarMemo = new java.util.concurrent.ConcurrentHashMap[
    Long, ManifestStore.Sidecar]()
  private val filesMemo = new java.util.concurrent.ConcurrentHashMap[
    Long, Seq[FileStatus]]()

  private def sidecarOf(seg: Long): ManifestStore.Sidecar =
    sidecarMemo.computeIfAbsent(seg,
      s => ManifestStore.readSidecar(fs, tablePath, collection, s))

  /** The snapshot's TOTAL row count served purely from `rows:` sidecar
    * tokens — Some only when EVERY pinned segment carries one (a single
    * pre-token segment means "must scan", None). What
    * [[graft.plans.MetadataAggRule]] answers a bare COUNT(*) from
    * without scheduling a task. */
  def metadataRowCount: Option[Long] = {
    val counts = segs.map(sidecarOf(_).rows)
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }

  /** Per-segment bound contribution for a metadata-served MIN/MAX:
    * Some(Some(lo, hi)) = recorded bounds of the matching kind;
    * Some(None) = the segment PROVABLY contributes nothing (its
    * non-null count for the column is recorded zero — min/max ignore
    * nulls); None = cannot prove (missing/wrong-kind entry without a
    * zero count), which disqualifies the whole rewrite. */
  private def segBounds(seg: Long, column: String,
      kind: Char): Option[Option[(String, String)]] = {
    val sc = sidecarOf(seg)
    sc.bounds.get(column) match {
      case Some((k, lo, hi)) if k == kind => Some(Some((lo, hi)))
      case _ => if (sc.counts.get(column).contains(0L)) Some(None) else None
    }
  }

  /** Snapshot-wide [min, max] of an INTEGRAL column from 'l'-kind
    * zone-map bounds (exact: recorded un-cast, numeric order).
    * Some(None) = provably no non-null value in any segment (the
    * served result is NULL); None = at least one segment is
    * unprovable — must scan. */
  def metadataLongBounds(column: String): Option[Option[(Long, Long)]] = {
    val per = segs.map(segBounds(_, column, 'l'))
    if (per.exists(_.isEmpty)) None
    else {
      val bounds = per.flatten.flatten.map { case (lo, hi) =>
        (lo.toLongOption, hi.toLongOption)
      }
      if (bounds.exists(b => b._1.isEmpty || b._2.isEmpty)) None
      else if (bounds.isEmpty) Some(None)
      else Some(Some((bounds.map(_._1.get).min, bounds.map(_._2.get).max)))
    }
  }

  /** Snapshot-wide [min, max] of a genuine STRING column from 's'-kind
    * bounds (exact: the cast is identity and the recorded UTF-8 byte
    * order IS Spark's string ordering). Same tri-state as
    * [[metadataLongBounds]]. */
  def metadataStringBounds(
      column: String): Option[Option[(String, String)]] = {
    val per = segs.map(segBounds(_, column, 's'))
    if (per.exists(_.isEmpty)) None
    else {
      val bounds = per.flatten.flatten
      if (bounds.isEmpty) Some(None)
      else Some(Some((
        bounds.map(_._1).reduce((a, b) =>
          if (ManifestStore.utf8Cmp(a, b) <= 0) a else b),
        bounds.map(_._2).reduce((a, b) =>
          if (ManifestStore.utf8Cmp(a, b) >= 0) a else b))))
    }
  }

  /** Snapshot-wide [min, max] of a FLOATING column from 'd'-kind
    * bounds, served verbatim as recorded (NaN intact — Spark's min/max
    * order NaN greatest, so a corpus containing NaN maxes to it on
    * both paths). Ties between -0.0 and 0.0 are EQUAL under Spark's
    * own float comparison (SQLOrderingUtil), so which sign a min/max
    * returns is order-dependent in Spark itself — the served value is
    * one of the same equal candidates the scan would pick. Same
    * tri-state as [[metadataLongBounds]]. */
  def metadataDoubleBounds(
      column: String): Option[Option[(Double, Double)]] = {
    val per = segs.map(segBounds(_, column, 'd'))
    if (per.exists(_.isEmpty)) None
    else {
      val bounds = per.flatten.flatten.map { case (lo, hi) =>
        (lo.toDoubleOption, hi.toDoubleOption)
      }
      if (bounds.exists(b => b._1.isEmpty || b._2.isEmpty)) None
      else if (bounds.isEmpty) Some(None)
      else Some(Some((
        bounds.map(_._1.get).reduce((a, b) =>
          if (java.lang.Double.compare(a, b) <= 0) a else b),
        bounds.map(_._2.get).reduce((a, b) =>
          if (java.lang.Double.compare(a, b) >= 0) a else b))))
    }
  }

  override val rootPaths: Seq[Path] = Seq(new Path(tablePath))

  override def partitionSchema: StructType = StructType(Nil)

  /** One FileStatus listing per segment per index instance (memoized
    * like the sidecars — repeated planner calls to
    * `listFiles`/`inputFiles`/`sizeInBytes` must not re-pay
    * O(segments) driver RPCs on an object store). A segment PINNED in
    * this snapshot whose directory is gone fails LOUD, matching the
    * imperative readers (`spark.read.parquet` on a missing dir
    * throws): a frame raced by an over-eager vacuum must error, never
    * silently drop that segment's rows. */
  private def segFiles(seg: Long): Seq[FileStatus] =
    filesMemo.computeIfAbsent(seg, { s =>
      val dir = ManifestStore.segDir(tablePath, collection, s)
      if (!fs.exists(dir))
        throw new java.io.FileNotFoundException(
          s"segment $s of collection '$collection' at $tablePath is " +
            "pinned in this snapshot but its directory is missing " +
            "(vacuumed under a live reader?)")
      fs.listStatus(dir).toSeq.filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    })

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = segs.filterNot { s =>
      val sc = sidecarOf(s)
      dataFilters.exists(GraftFileIndex.excludes(sc, _))
    }
    Seq(PartitionDirectory(InternalRow.empty,
      kept.flatMap(segFiles).toArray))
  }

  override def inputFiles: Array[String] =
    segs.flatMap(segFiles).map(_.getPath.toString).toArray

  override def sizeInBytes: Long = segs.flatMap(segFiles).map(_.getLen).sum

  override def refresh(): Unit = {
    // a version-pinned index re-resolves at the SAME ceiling: the pin
    // is part of the relation's identity, refresh only re-lists
    segs = resolveSegs()
    sidecarMemo.clear(); filesMemo.clear()
  }

  /** The segments' own merged schema, computed once at construction
    * (parquet footers, driver-side). Throws on an absent or
    * tombstoned collection — a schemaless relation is a user error,
    * not an empty frame. */
  val dataSchema: StructType = {
    require(segs.nonEmpty,
      s"collection '$collection' at $tablePath has no live segments " +
        "(absent or tombstoned) - the connector cannot infer a schema")
    spark.read.option("mergeSchema", "true")
      .parquet(segs.map(s =>
        ManifestStore.segDir(tablePath, collection, s).toString): _*)
      .schema
  }
}

/** The ONE segment-exclusion prover: a pure function of a segment's
  * parsed sidecar ([[ManifestStore.Sidecar]]) and a Catalyst
  * predicate. [[GraftFileIndex.listFiles]] applies it to the query's
  * data filters, and every imperative reader of [[ManifestStore]]
  * (range, point and range-count reads) applies it to the predicate
  * it builds from its own arguments, so both faces skip exactly the
  * same segments by the same proof. */
object GraftFileIndex {

  private def litLong(l: Literal): Option[Long] = l.value match {
    case i: java.lang.Integer => Some(i.longValue)
    case j: java.lang.Long => Some(j.longValue)
    case s: java.lang.Short => Some(s.longValue)
    case b: java.lang.Byte => Some(b.longValue)
    case _ => None
  }

  private def litUtf8(l: Literal): Option[UTF8String] = l.value match {
    case u: UTF8String => Some(u)
    case _ => None
  }

  private def litDouble(l: Literal): Option[Double] = l.value match {
    case d: java.lang.Double => Some(d.doubleValue)
    case f: java.lang.Float => Some(f.doubleValue)
    case _ => None
  }

  private def dblBounds(sc: ManifestStore.Sidecar,
      name: String): Option[(Double, Double)] =
    sc.bounds.get(name) match {
      case Some(('d', lo, hi)) =>
        (lo.toDoubleOption, hi.toDoubleOption) match {
          case (Some(l), Some(h)) => Some((l, h))
          case _ => None
        }
      case _ => None
    }

  private def longBounds(sc: ManifestStore.Sidecar,
      name: String): Option[(Long, Long)] =
    sc.bounds.get(name) match {
      case Some(('l', lo, hi)) =>
        (lo.toLongOption, hi.toLongOption) match {
          case (Some(l), Some(h)) => Some((l, h))
          case _ => None
        }
      case _ => None
    }

  private def strBounds(sc: ManifestStore.Sidecar,
      name: String): Option[(String, String)] =
    sc.bounds.get(name) match {
      case Some(('s', lo, hi)) => Some((lo, hi))
      case _ => None
    }

  /** True iff the recorded non-null count proves a null-REJECTING
    * predicate on `name` matches nothing in this segment. */
  private def allNull(sc: ManifestStore.Sidecar, name: String): Boolean =
    sc.counts.get(name).contains(0L)

  /** True iff the sidecar PROVES the segment holds no null in `name`:
    * total rows == the column's non-null count (both tokens present).
    * An `IS NULL` predicate then matches nothing here. Either token
    * missing proves nothing — keep the segment. */
  private def noNulls(sc: ManifestStore.Sidecar, name: String): Boolean =
    sc.rows.exists(r => sc.counts.get(name).contains(r))

  private sealed trait Cmp
  private case object Eq extends Cmp
  private case object Gt extends Cmp
  private case object Ge extends Cmp
  private case object Lt extends Cmp
  private case object Le extends Cmp

  /** Does `col <cmp> lit` provably match no row of the segment? */
  private def cmpExcludes(sc: ManifestStore.Sidecar, a: Attribute,
      cmp: Cmp, l: Literal): Boolean = {
    if (allNull(sc, a.name)) return true
    litLong(l).map { v =>
      val boundsExcl = longBounds(sc, a.name).exists { case (lo, hi) =>
        cmp match {
          case Eq => v < lo || v > hi
          case Gt => hi <= v
          case Ge => hi < v
          case Lt => lo >= v
          case Le => lo > v
        }
      }
      // bloom probes answer point absence INDEPENDENTLY of zone-map
      // coverage (a column configured with blooms but not zone-mapped
      // — the event_id shape — still prunes equality)
      def bloomExcl = cmp == Eq && (sc.blooms.get(a.name) match {
        case Some(('l', m, bytes)) =>
          !ManifestStore.bloomMayContain(m, bytes, v)
        case _ => false // 's'-kind bits prove nothing for a long probe
      })
      boundsExcl || bloomExcl
    }.orElse(litUtf8(l).map { u =>
      val boundsExcl = strBounds(sc, a.name).exists { case (lo, hi) =>
        val v = u.toString
        cmp match {
          case Eq => ManifestStore.utf8Cmp(v, lo) < 0 ||
            ManifestStore.utf8Cmp(v, hi) > 0
          case Gt => ManifestStore.utf8Cmp(hi, v) <= 0
          case Ge => ManifestStore.utf8Cmp(hi, v) < 0
          case Lt => ManifestStore.utf8Cmp(lo, v) >= 0
          case Le => ManifestStore.utf8Cmp(lo, v) > 0
        }
      }
      // string-kind bloom probe — the uuid/doc-id point-lookup axis:
      // independent of zone-map coverage, same discipline as the long
      // branch
      def bloomExcl = cmp == Eq && (sc.blooms.get(a.name) match {
        case Some(('s', m, bytes)) =>
          !ManifestStore.bloomMayContainStr(m, bytes, u)
        case _ => false // 'l'-kind bits prove nothing for a string probe
      })
      boundsExcl || bloomExcl
    }).orElse(litDouble(l).map { v =>
      // floating-point probe against 'd' bounds, compared under
      // ManifestStore.dCmpPred — zeros canonicalized (-0.0 = 0.0, as
      // Spark's predicates treat them) and NaN greatest (Spark's NaN
      // order), so each test below can only keep MORE than the
      // predicate matches. A segment containing a NaN row records
      // hi = NaN (max under Spark's float total order), and no test
      // against a NaN bound ever proves exclusion — sound because in
      // Spark NaN = NaN, NaN > x, and NaN >= x are all TRUE. No bloom
      // arm: float point-probes are a modeling smell, bounds only.
      dblBounds(sc, a.name).exists { case (lo, hi) =>
        import ManifestStore.{dCmpPred => c}
        cmp match {
          case Eq => c(v, lo) < 0 || c(v, hi) > 0
          case Gt => c(hi, v) <= 0
          case Ge => c(hi, v) < 0
          case Lt => c(lo, v) >= 0
          case Le => c(lo, v) > 0
        }
      }
    }).getOrElse(false)
  }

  private def flip(c: Cmp): Cmp = c match {
    case Gt => Lt; case Ge => Le; case Lt => Gt; case Le => Ge
    case Eq => Eq
  }

  /** Does predicate `e` provably match no row of the segment whose
    * sidecar is `sc`? Unrecognized shapes prove nothing (false). */
  private[sources] def excludes(sc: ManifestStore.Sidecar,
      e: Expression): Boolean = e match {
    case And(l, r) => excludes(sc, l) || excludes(sc, r)
    case Or(l, r) => excludes(sc, l) && excludes(sc, r)
    case EqualTo(a: Attribute, l: Literal) => cmpExcludes(sc, a, Eq, l)
    case EqualTo(l: Literal, a: Attribute) => cmpExcludes(sc, a, Eq, l)
    // null-safe equality against a non-null literal rejects nulls too
    case EqualNullSafe(a: Attribute, l: Literal) if l.value != null =>
      cmpExcludes(sc, a, Eq, l)
    case EqualNullSafe(l: Literal, a: Attribute) if l.value != null =>
      cmpExcludes(sc, a, Eq, l)
    case GreaterThan(a: Attribute, l: Literal) => cmpExcludes(sc, a, Gt, l)
    case GreaterThan(l: Literal, a: Attribute) =>
      cmpExcludes(sc, a, flip(Gt), l)
    case GreaterThanOrEqual(a: Attribute, l: Literal) =>
      cmpExcludes(sc, a, Ge, l)
    case GreaterThanOrEqual(l: Literal, a: Attribute) =>
      cmpExcludes(sc, a, flip(Ge), l)
    case LessThan(a: Attribute, l: Literal) => cmpExcludes(sc, a, Lt, l)
    case LessThan(l: Literal, a: Attribute) =>
      cmpExcludes(sc, a, flip(Lt), l)
    case LessThanOrEqual(a: Attribute, l: Literal) =>
      cmpExcludes(sc, a, Le, l)
    case LessThanOrEqual(l: Literal, a: Attribute) =>
      cmpExcludes(sc, a, flip(Le), l)
    case In(a: Attribute, vs) if vs.nonEmpty &&
        vs.forall(_.isInstanceOf[Literal]) =>
      vs.forall(v => cmpExcludes(sc, a, Eq, v.asInstanceOf[Literal]))
    case IsNotNull(a: Attribute) => allNull(sc, a.name)
    // IS NULL excludes a segment the sidecar PROVES null-free
    // (rows == non-null count); `a <=> null` is the same predicate
    case IsNull(a: Attribute) => noNulls(sc, a.name)
    case EqualNullSafe(a: Attribute, l: Literal) if l.value == null =>
      noNulls(sc, a.name)
    case EqualNullSafe(l: Literal, a: Attribute) if l.value == null =>
      noNulls(sc, a.name)
    // prefix probe (the reference's key-prefix listing shape): every
    // string with prefix p sorts in [p, next-prefix); a segment is out
    // when its hi < p, or its lo > p WITHOUT carrying the prefix — a
    // p-prefixed string shares p's bytes, so it sorts below any
    // greater string that first diverges inside the prefix
    case StartsWith(a: Attribute, l: Literal) =>
      allNull(sc, a.name) || litUtf8(l).exists { u =>
        strBounds(sc, a.name).exists { case (lo, hi) =>
          val p = u.toString
          ManifestStore.utf8Cmp(hi, p) < 0 ||
            (ManifestStore.utf8Cmp(lo, p) > 0 && !lo.startsWith(p))
        }
      }
    case _ => false
  }
}

/** `spark.read.format("graft")` / `df.write.format("graft")` — the
  * DataFrame/SQL face of the manifest store. Registered under short
  * name `graft` (META-INF/services), so
  * `spark.read.format("graft").option("path", t).option("collection", c).load()`,
  * `CREATE TEMPORARY VIEW v USING graft OPTIONS (path '...',
  * collection '...')`, and `df.write.format("graft")` all resolve.
  *
  * READS return a [[HadoopFsRelation]] over a [[GraftFileIndex]],
  * which is what routes the scan through `FileSourceScanExec` —
  * native vectorized parquet, whole-stage codegen, parquet row-group
  * pushdown AND planning-time segment skipping from the same query
  * filters.
  *
  * WRITES delegate to [[ManifestStore]]'s commit protocol — the
  * connector adds NO atomicity primitive of its own; the
  * claim/pointer invariants stay inside the store:
  *   - `mode("append")` → [[ManifestStore.store]], or the idempotent
  *     [[ManifestStore.storeBatch]] when a `tag` option carries the
  *     batch's provenance key (same-tag replays commit nothing);
  *   - `ErrorIfExists` (the writer default) creates the collection,
  *     failing if it already has a live version; `Ignore` is its
  *     silent-skip twin;
  *   - `Overwrite` is REJECTED: destructive replacement must go
  *     through [[ManifestStore.mergeCollection]] /
  *     [[ManifestStore.restoreVersion]], whose pointer history keeps
  *     the old version restorable — a path-style truncate-and-load
  *     would silently discard it. */
final class GraftSource extends RelationProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with DataSourceRegister {

  override def shortName(): String = "graft"

  private def required(parameters: Map[String, String],
      key: String): String =
    parameters.getOrElse(key, throw new IllegalArgumentException(
      s"graft source requires a '$key' option"))

  override def createRelation(sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = required(parameters, "path")
    val collection = required(parameters, "collection")
    // time travel: .option("versionAsOf", <ptr_seq>) pins the snapshot
    // to that commit (the DESCRIBE-HISTORY `ptr_seq` /
    // `diffVersions` coordinate); .option("timestampAsOf", <epochMs>)
    // resolves a wall-clock instant to its version ONCE, here, then
    // behaves exactly like versionAsOf (refresh() re-pins at the
    // RESOLVED version's ceiling, not at a re-read of the clock —
    // ManifestStore.versionAtTime's ceiling/horizon contract); absent
    // = latest. Mutually exclusive: two coordinates for one snapshot
    // invite silent disagreement.
    val versionOpt = parameters.get("versionAsOf").map { v =>
      v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"graft option 'versionAsOf' must be a commit sequence, got '$v'"))
    }
    val tsOpt = parameters.get("timestampAsOf").map { v =>
      v.toLongOption.getOrElse(throw new IllegalArgumentException(
        "graft option 'timestampAsOf' must be epoch milliseconds, " +
          s"got '$v'"))
    }
    require(versionOpt.isEmpty || tsOpt.isEmpty,
      "graft options 'versionAsOf' and 'timestampAsOf' are mutually " +
        "exclusive — pick one snapshot coordinate")
    val asOf = versionOpt
      .orElse(tsOpt.map(t =>
        ManifestStore.versionAtTime(spark, path, collection, t)))
      .getOrElse(Long.MaxValue)
    val index = new GraftFileIndex(spark, path, collection, asOf)
    HadoopFsRelation(index, StructType(Nil), index.dataSchema, None,
      new ParquetFileFormat, Map.empty)(spark)
  }

  override def createRelation(sqlContext: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val spark = sqlContext.sparkSession
    val path = required(parameters, "path")
    val collection = required(parameters, "collection")
    def append(): Unit = parameters.get("tag") match {
      case Some(tag) =>
        ManifestStore.storeBatch(data, path, collection, tag): Unit
      case None => ManifestStore.store(data, path, collection)
    }
    val fs = ManifestStore.fsOf(spark, path)
    // "exists" for the create-once modes = ANY valid commit, INCLUDING
    // a tombstone: a merged-to-empty collection was deliberately
    // emptied, and a create-once write must not silently resurrect it
    // (restoreVersion is the explicit path back)
    def exists(): Boolean =
      ManifestStore.resolve(fs, path, collection).decidedSeq > 0L
    // Create-once is decided ATOMICALLY by the `created` marker
    // (ManifestStore.claimCreateOnce — the O_EXCL pointer primitive):
    // two racing ErrorIfExists writers cannot both pass an exists()
    // probe and both append; exactly one wins the marker. The
    // existence check still runs first to give collections created
    // through the imperative faces (which carry no marker) the right
    // answer. A create that crashed after winning the marker leaves it
    // behind — the retry path is mode('append'), as documented on
    // claimCreateOnce.
    mode match {
      case SaveMode.Append => append()
      case SaveMode.ErrorIfExists =>
        if (exists() || !ManifestStore.claimCreateOnce(fs, path, collection))
          throw new IllegalStateException(
            s"collection '$collection' at $path already exists " +
              "(mode=ErrorIfExists); use mode('append') to add a segment")
        append()
      case SaveMode.Ignore =>
        if (!exists() && ManifestStore.claimCreateOnce(fs, path, collection))
          append()
      case SaveMode.Overwrite => throw new UnsupportedOperationException(
        "graft does not support mode=Overwrite: replace content with " +
          "ManifestStore.mergeCollection (restorable pointer history) " +
          "or roll back with ManifestStore.restoreVersion")
    }
    // the post-write relation re-resolves: a read through it sees the
    // commit this write just published (or the pre-existing snapshot
    // for an Ignore'd write). A write that landed nothing against a
    // collection with no live segments (an Ignore no-op racing the
    // creator, or a create-once mode meeting a tombstone) has no
    // snapshot to infer a schema from — hand back the written frame's
    // schema without binding an index
    val ctx = sqlContext
    if (ManifestStore.resolve(fs, path, collection)
        .liveSegs.exists(_.nonEmpty))
      createRelation(ctx, parameters)
    else new BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType = data.schema
    }
  }
}
