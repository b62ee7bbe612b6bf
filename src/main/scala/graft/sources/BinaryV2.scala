package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.sources.{And, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Or}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The one DSv2 relation over the BGZF containers ([[BgzfTable]] /
  * [[BgzfScan]]) and the BINARY containers' sources: sorted BCF
  * ([[BcfBgzfSource]], `Bcf.readTable`) and BAM ([[BamBgzfSource]],
  * `Bam.readTable`). The VCF source ([[VcfBgzfSource]]) shares the same
  * relation; a [[BgzfContainer]] value carries what differs between the
  * three (name, schema, chrom column, region planner, reader factory).
  * `SupportsPushDownFilters` routes a chrom/rname equality (or IN) plus
  * pos bounds into the SAME per-file bisection `readRegion` plans
  * ([[Vcf.regionPlan]]/[[Bcf.regionPlan]]/[[Bam.regionPlan]], maxSpan
  * 0 — the predicate is on pos itself). Every filter is retained for
  * Spark to re-apply above the scan, so pruning only skips bytes. The
  * region reads (`readRegion`/`readRegions`/`readPanel`) build the
  * same table with their finished window plan as a field.
  * [[Vcf.readAuto]]'s `.bcf` branch returns the BCF relation, so the
  * CLI's SQL-shaped access prunes with no API change; `Bam.readTable`
  * wraps the base relation in [[Sam.decorate]] — the decoration is a
  * deterministic projection, so Catalyst pushes rname/pos filters
  * straight through it into the scan.
  *
  * This relation is the only scan engine of the three containers. Its
  * one partition reader ([[BgzfReaderFactory]]) is the one place the
  * record decoders run, converting records to InternalRows under
  * `SupportsPushDownRequiredColumns` pruning: VCF's line reader
  * (`Bgzf.rangeLinesOf`), and for BCF and BAM the shared aligned-range
  * reader `Bgzf.alignedRecords` (with the unaligned-range guard) over
  * each container's `Grammar`. Split-size parity with the whole-file
  * read is spec-pinned (BcfSpec, BamSpec, BinaryV2Spec) and
  * gate-pinned against the independent DuckDB text parses (bcf1/bcf2,
  * bam1/bam2, g59b/g59c).
  */
private[sources] object BgzfPush {

  /** One prunable disjunct over (chrom, pos): an optional chrom set
    * plus inclusive pos bounds. `chroms = None` means "any chrom" —
    * unusable for windowing (the bisection key needs a contig rank).
    */
  private[sources] case class Conj(chroms: Option[Set[String]],
                                   lo: Long, hi: Long) {
    def staticallyEmpty: Boolean = lo > hi || chroms.exists(_.isEmpty)
  }
  private[sources] val All: Conj = Conj(None, Long.MinValue, Long.MaxValue)

  /** Extraction result. `regions = None`: the filters can't prune (no
    * usable chrom conjunct, or a disjunct without one) — full scan.
    * `Some(Nil)`: the recognized conjuncts are statically contradictory
    * — zero partitions (safe: a narrower true predicate can only be
    * emptier). `Some(rs)`: the (chrom, lo, hi) region list the
    * bisection planner takes. `used` lists the filters that contributed
    * a recognized conjunct — informational only, since EVERY filter is
    * always retained as residual and re-applied above the scan.
    */
  case class Extracted(regions: Option[Seq[(String, Long, Long)]],
                       used: Array[Filter])

  val Unextracted: Extracted = Extracted(None, Array.empty)

  /** Extract the prunable predicates over (`chromCol`, `posCol`) —
    * shared by all three container ScanBuilders. Handles both the
    * conjunct shape (`chrom='17' AND pos BETWEEN a AND b`) and the
    * panel shape a BED target list compiles to in SQL
    * (`(chrom='1' AND pos BETWEEN …) OR (chrom='2' AND …)`): the whole
    * filter conjunction is expanded to a BOUNDED DNF (≤64 disjuncts —
    * past that, top-level conjuncts only), each disjunct folds its
    * recognized leaves into a [[Conj]] (unrecognized leaves are ignored
    * — they only narrow rows, so the window stays a superset), and a
    * disjunct with no chrom constraint makes the whole extraction
    * unusable (its matching rows could be anywhere).
    *
    * Bound arithmetic SATURATES: pos is LongType (the text parse admits
    * 18 digits), so `pos > Long.MaxValue`-class predicates clamp
    * instead of wrapping, and a pushed lower bound above the int32
    * window cap falls through to the planner's own clamp (which keys
    * every over-cap position at the cap) rather than reading as
    * statically empty — the r15 int32 `hi` init silently dropped
    * `pos > 2^31-1` rows by planning zero partitions.
    */
  def extract(filters: Array[Filter], chromCol: String,
              posCol: String): Extracted = {
    def satInc(v: Long): Long = if (v == Long.MaxValue) v else v + 1
    def satDec(v: Long): Long = if (v == Long.MinValue) v else v - 1
    def fold(c: Conj, f: Filter): Option[Conj] = f match {
      case EqualTo(`chromCol`, s: String) =>
        Some(c.copy(chroms = Some(c.chroms.fold(Set(s))(_ & Set(s)))))
      case EqualNullSafe(`chromCol`, s: String) =>
        Some(c.copy(chroms = Some(c.chroms.fold(Set(s))(_ & Set(s)))))
      case In(`chromCol`, vs) if vs != null && vs.nonEmpty &&
        vs.forall(_.isInstanceOf[String]) =>
        val set = vs.map(_.asInstanceOf[String]).toSet
        Some(c.copy(chroms = Some(c.chroms.fold(set)(_ & set))))
      case EqualTo(`posCol`, v: Long) =>
        Some(c.copy(lo = math.max(c.lo, v), hi = math.min(c.hi, v)))
      case EqualNullSafe(`posCol`, v: Long) =>
        Some(c.copy(lo = math.max(c.lo, v), hi = math.min(c.hi, v)))
      case In(`posCol`, vs) if vs != null && vs.nonEmpty &&
        vs.forall(_.isInstanceOf[Long]) =>
        // conjunct-fold view of a position list: its [min, max] hull
        // (the dnf path below expands small lists to one disjunct per
        // value instead — one tiny window per looked-up position)
        val ls = vs.map(_.asInstanceOf[Long])
        Some(c.copy(lo = math.max(c.lo, ls.min),
          hi = math.min(c.hi, ls.max)))
      case GreaterThanOrEqual(`posCol`, v: Long) =>
        Some(c.copy(lo = math.max(c.lo, v)))
      case GreaterThan(`posCol`, v: Long) =>
        Some(c.copy(lo = math.max(c.lo, satInc(v))))
      case LessThanOrEqual(`posCol`, v: Long) =>
        Some(c.copy(hi = math.min(c.hi, v)))
      case LessThan(`posCol`, v: Long) =>
        Some(c.copy(hi = math.min(c.hi, satDec(v))))
      case _ => None
    }
    val maxDisjuncts = 64
    def dnf(f: Filter): Option[Seq[Seq[Filter]]] = f match {
      case And(l, r) =>
        for { a <- dnf(l); b <- dnf(r)
              if a.size.toLong * b.size <= maxDisjuncts }
          yield for { x <- a; y <- b } yield x ++ y
      case Or(l, r) =>
        for { a <- dnf(l); b <- dnf(r)
              if a.size + b.size <= maxDisjuncts } yield a ++ b
      case In(`posCol`, vs) if vs != null && vs.nonEmpty &&
        vs.length <= maxDisjuncts &&
        vs.forall(_.isInstanceOf[Long]) =>
        // a position LIST (the "annotate these N hits" lookup) expands
        // exactly to one disjunct per value — one bisected window per
        // position instead of the [min, max] hull spanning the chrom
        Some(vs.toSeq.map(v => Seq(EqualTo(posCol, v): Filter)))
      case leaf => Some(Seq(Seq(leaf)))
    }
    def hasRecognized(f: Filter): Boolean = f match {
      case And(l, r) => hasRecognized(l) || hasRecognized(r)
      case Or(l, r) => hasRecognized(l) || hasRecognized(r)
      case leaf => fold(All, leaf).isDefined
    }
    val disjuncts: Seq[Conj] =
      filters.foldLeft(Option(Seq(Seq.empty[Filter]))) { (acc, f) =>
        for { a <- acc; d <- dnf(f)
              if a.size.toLong * d.size <= maxDisjuncts }
          yield for { x <- a; y <- d } yield x ++ y
      } match {
        case Some(leafConjs) => leafConjs.map(leaves =>
          leaves.foldLeft(All)((c, lf) => fold(c, lf).getOrElse(c)))
        case None =>
          // DNF bound exceeded: top-level conjuncts only (an Or-shaped
          // filter is unrecognized here and simply doesn't narrow)
          Seq(filters.foldLeft(All)((c, f) => fold(c, f).getOrElse(c)))
      }
    val live = disjuncts.filterNot(_.staticallyEmpty)
    val regions: Option[Seq[(String, Long, Long)]] =
      if (live.isEmpty) Some(Nil) // every disjunct contradictory
      else if (live.forall(_.chroms.isDefined))
        Some(live.flatMap(c =>
          c.chroms.get.toSeq.sorted.map(ch => (ch, c.lo, c.hi))))
      else None
    Extracted(regions,
      if (regions.isDefined) filters.filter(hasRecognized)
      else Array.empty)
  }

  /** Extract the chrom value set from RUNTIME filter predicates (the
    * `SupportsRuntimeV2Filtering.filter` input): a broadcast join
    * `containerRelation ⋈ small panel ON chrom` hands the scan the
    * build side's DISTINCT key set as an IN predicate
    * (`DataSourceV2Strategy.translateRuntimeFilterV2` emits
    * `Predicate("IN", FieldReference(col) +: LiteralValues)`), so the
    * scan can re-plan to just those chromosomes' byte windows — the
    * join-shaped twin of a literal `WHERE chrom IN (…)`. Unrecognized
    * predicate shapes are IGNORED (no restriction — runtime filters
    * only ever narrow, so ignoring one is just a full scan, never a
    * wrong row). Null values never equality-join, so they drop from
    * the set. Multiple predicates on the column intersect.
    */
  def runtimeChromSet(predicates: Array[Predicate],
                      chromCol: String): Option[Set[String]] = {
    var out: Option[Set[String]] = None
    predicates.foreach { p =>
      val ch = p.children()
      if (p.name() == "IN" && ch.nonEmpty) {
        val colOk = ch(0) match {
          case r: NamedReference => r.fieldNames.toSeq == Seq(chromCol)
          case _ => false
        }
        if (colOk && ch.tail.forall(_.isInstanceOf[Literal[_]])) {
          val vs = ch.tail.collect {
            case l: Literal[_] if l.value != null => l.value.toString
          }.toSet
          out = Some(out.fold(vs)(_ & vs))
        }
      }
    }
    out
  }

  /** Fold a runtime chrom set into the pushed-filter extraction: with
    * literal regions, keep only the disjuncts whose chrom survives;
    * with none, the set alone becomes whole-chromosome regions (pos
    * unbounded — the planner's int32 clamp bounds the key). The
    * result re-plans to the runtime keys' windows only.
    */
  def applyRuntime(e: Extracted,
                   chroms: Option[Set[String]]): Extracted =
    chroms match {
      case None => e
      case Some(set) => e.regions match {
        case Some(rs) => e.copy(regions = Some(rs.filter(r => set(r._1))))
        case None => e.copy(regions =
          Some(set.toSeq.sorted.map(c => (c, 0L, Long.MaxValue))))
      }
    }

  /** Tile planned windows into byte-range partitions of at most
    * `splitSize` bytes. Bounds step by the remaining span, so a
    * `splitSize` up to Long.MaxValue (the one-range-per-file idiom)
    * cannot overflow an offset.
    */
  def tile(windows: Seq[Bgzf.FileWindow],
           splitSize: Long): Array[InputPartition] = {
    require(splitSize > 0, s"splitSize must be > 0, got $splitSize")
    windows.filter(w => w.toByte > w.fromByte).flatMap { w =>
      def endOf(start: Long) =
        if (w.toByte - start <= splitSize) w.toByte else start + splitSize
      Iterator.iterate(w.fromByte)(endOf).takeWhile(_ < w.toByte)
        .map(s => BgzfScanPartition(w.path, s, endOf(s), w.fileLen))
    }.toArray
  }

  def hadoopConf(spark: SparkSession)
    : org.apache.spark.SerializableWritable[
      org.apache.hadoop.conf.Configuration] =
    new org.apache.spark.SerializableWritable(
      new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration))
}

// ------------------------------------------------------------- relation

/** What sets one BGZF container's relation apart: the name its plans
  * print, its row shape, the column region filters key on (`chrom` or
  * `rname`), its region planner (called with maxSpan 0 — a pushed
  * predicate is on pos itself), its partition-reader factory (built per
  * scan from the session and the pruned column names) and whether a
  * full scan must first check that the files are BGZF (VCF: plain text
  * has its own reader; BCF/BAM readers fail loudly on their own).
  */
private[sources] case class BgzfContainer(
    provider: String, name: String, schema: StructType, chromCol: String,
    regionPlan: (SparkSession, String, Seq[(String, Long, Long)]) =>
      Vcf.RegionPlan,
    readers: (SparkSession, Array[String]) => PartitionReaderFactory,
    wantsBgzf: Boolean = false)

/** The one DSv2 relation over the BGZF containers (VCF, BCF, BAM).
  * `planned` is the region-read route: [[Vcf.readRegions]] and its
  * BCF/BAM twins run the bisection themselves (any region count, the
  * maxSpan overlap back-off, the mixed-layout fallback — none of which
  * the pushed-filter route can express) and hand the finished windows
  * here, so the region frame still gets column pruning (a panel read
  * that only aggregates `pos` never splits genotype columns). Without
  * it, the scan plans from pushed filters.
  */
private[sources] class BgzfTable(c: BgzfContainer, path: String,
    splitSize: Long, planned: Option[Seq[Bgzf.FileWindow]] = None)
  extends Table with SupportsRead {
  require(path != null, s"${c.provider} needs a path")

  override def name(): String = s"${c.name}($path)"
  override def schema(): StructType = c.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  /** Extract the prunable predicates ([[BgzfPush.extract]]). EVERY
    * filter is returned as residual (Spark re-applies all of them above
    * the scan), so extraction can only skip bytes, never rows: the
    * window contract guarantees every row matching the extracted
    * predicates lies inside the planned windows.
    */
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters
      with SupportsPushDownRequiredColumns {
      private var required: StructType = c.schema
      private var e = BgzfPush.Unextracted
      override def pushFilters(fs: Array[Filter]): Array[Filter] = {
        e = BgzfPush.extract(fs, c.chromCol, "pos"); fs
      }
      override def pushedFilters(): Array[Filter] = e.used
      override def pruneColumns(s: StructType): Unit = required = s
      override def build(): Scan =
        new BgzfScan(c, path, splitSize, planned, required, e)
    }
}

private[sources] object BgzfTable {
  /** The table `spark.read.format(provider).load(path)` reads. Spark
    * hands getTable the ORIGINAL-case option map (asCaseSensitiveMap)
    * — re-wrapped so `afFields`/`splitSize` resolve regardless of
    * caller casing.
    */
  def fromOptions(properties: java.util.Map[String, String],
                  container: Seq[String] => BgzfContainer): BgzfTable = {
    val opts = new CaseInsensitiveStringMap(properties)
    new BgzfTable(
      container(Option(opts.get("affields")).map(_.split(",").toSeq)
        .getOrElse(Vcf.defaultAfFields)),
      opts.get("path"),
      Option(opts.get("splitsize")).map(_.toLong).getOrElse(32L << 20))
  }

  /** A region read's frame: the relation over `path` carrying its
    * finished window plan — built here, as `DataFrameReader.load`
    * builds it, so the plan travels as a field rather than an option.
    */
  def planned(spark: SparkSession, c: BgzfContainer, path: String,
              splitSize: Long, windows: Seq[Bgzf.FileWindow]): DataFrame =
    GraftColumnBridge.tableFrame(spark,
      new BgzfTable(c, path, splitSize, Some(windows)))
}

/** One byte range of one file — the DSv2 partition (package-visible so
  * the specs can pin scanned-byte totals off the physical plan).
  */
private[graft] case class BgzfScanPartition(path: String, start: Long,
                                           end: Long, len: Long)
  extends InputPartition

private[sources] class BgzfScan(c: BgzfContainer, path: String,
    splitSize: Long, planned: Option[Seq[Bgzf.FileWindow]],
    required: StructType, e: BgzfPush.Extracted)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String = planned match {
    case Some(ws) =>
      s"${c.name} $path (pre-planned windows: " +
        s"${ws.count(w => w.toByte > w.fromByte)})"
    case None if e.used.isEmpty => s"${c.name} $path (full scan)"
    case None =>
      s"${c.name} $path (PushedFilters: [${e.used.mkString(", ")}], " +
        s"regions=${e.regions.map(_.map { case (ch, l, h) =>
          s"$ch:[$l,$h]" }.mkString("|")).getOrElse("*")})"
  }

  /** Runtime join pruning ([[BgzfPush.runtimeChromSet]]): a broadcast
    * join `relation ⋈ small panel ON chrom` re-plans the scan to the
    * build side's chromosomes — the join-shaped twin of a literal
    * `WHERE chrom IN (…)`. A pre-planned region read opts out (its
    * windows are already bisected, opaque bytes).
    */
  override def filterAttributes(): Array[NamedReference] =
    if (planned.isDefined) Array.empty
    else Array(Expressions.column(c.chromCol))
  override def filter(predicates: Array[Predicate]): Unit =
    BgzfPush.runtimeChromSet(predicates, c.chromCol)
      .foreach(s => runtimeChroms = Some(s))

  @volatile private var runtimeChroms: Option[Set[String]] = None
  private var cachedChroms: Option[Set[String]] = None
  private var cachedParts: Array[InputPartition] = null

  /** One shared lazy byte plan: estimateStatistics (optimizer time) and
    * planInputPartitions (physical planning) see the same windows; the
    * cache re-keys when a runtime filter lands between the two.
    */
  private def parts: Array[InputPartition] = synchronized {
    if (cachedParts == null || cachedChroms != runtimeChroms) {
      cachedChroms = runtimeChroms
      cachedParts = BgzfPush.tile(planned.getOrElse(
        windows(BgzfPush.applyRuntime(e, runtimeChroms))), splitSize)
    }
    cachedParts
  }

  /** Pushed-filter byte plan: with usable chrom disjuncts, the
    * container's exact region bisection; otherwise, or for files the
    * plan can't rank, whole files.
    */
  private def windows(e: BgzfPush.Extracted): Seq[Bgzf.FileWindow] = {
    val spark = SparkSession.active
    def wantBgzf(fp: String, isBgzf: => Boolean): Unit =
      if (c.wantsBgzf) require(isBgzf, s"${c.provider} wants BGZF " +
        s"files; $fp is not (read plain text through Vcf.read)")
    e.regions match {
      case Some(rs) if rs.isEmpty =>
        Seq.empty // statically contradictory filters
      case Some(rs) =>
        val plan = c.regionPlan(spark, path, rs)
        plan.fullScan.foreach(f => wantBgzf(f.path, f.isBgzf))
        plan.windows ++ plan.fullScan.map(f =>
          Bgzf.FileWindow(f.path, f.len, 0L, f.len, 0))
      case None =>
        val files = Bgzf.resolveFiles(spark, path)
        // one 18-byte signature peek, first file only — a non-BGZF
        // file elsewhere in the directory fails loudly per range at
        // read time ("not a BGZF member"), without an N-open planning
        // pass here
        files.headOption.foreach { case (fp, _) => wantBgzf(fp,
          Bgzf.isBgzf(spark.sparkContext.hadoopConfiguration, fp)) }
        files.map { case (fp, len) => Bgzf.FileWindow(fp, len, 0L, len, 0) }
    }
  }

  override def planInputPartitions(): Array[InputPartition] = parts

  /** Planned (compressed) bytes × [[BgzfScan.StatsInflation]], pruned
    * and full scans alike, so Catalyst can see that a pruned region
    * slice of a 100 GB cohort is broadcast-small, where the DSv2
    * default (spark.sql.defaultSizeInBytes = Long.Max) would sort-merge
    * every join against it.
    */
  override def estimateStatistics(): Statistics = {
    val bytes = parts.collect {
      case p: BgzfScanPartition => p.end - p.start
    }.sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(
          math.max(1L, bytes * BgzfScan.StatsInflation))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    c.readers(SparkSession.active, required.fieldNames)
}

private[graft] object BgzfScan {
  /** Deflate-ratio guess behind the reported size: BGZF text payloads
    * inflate ~3-6×. Genotype-dense cohort VCF/BCF commonly bgzips 10×+,
    * so the estimate errs small there — an over-threshold frame can
    * broadcast.
    */
  val StatsInflation = 6L
}

/** The one partition reader of the BGZF relation. Per byte range it
  * opens the file, builds the container's record iterator — closing the
  * handle if that eager construction (header decode, member scan,
  * alignment) throws, or every failed task attempt leaks one — and
  * turns each record into a row through the pruned schema's
  * extractors, one per required column. Both functions are built per
  * scan on the driver.
  */
private[sources] class BgzfReaderFactory[R](
    hconf: org.apache.spark.SerializableWritable[
      org.apache.hadoop.conf.Configuration],
    records: (org.apache.hadoop.fs.FSDataInputStream, Bgzf.Range) =>
      Iterator[R],
    extractors: Array[R => Any])
  extends PartitionReaderFactory {

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[BgzfScanPartition]
    val hp = new org.apache.hadoop.fs.Path(p.path)
    val in = hp.getFileSystem(hconf.value).open(hp)
    val recs =
      try records(in, Bgzf.Range(p.path, p.start, p.end, p.len))
      catch { case t: Throwable => Bgzf.closeQuietly(in); throw t }
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean = {
        if (!recs.hasNext) return false
        val r = recs.next()
        row = InternalRow.fromSeq(extractors.map(_(r)).toIndexedSeq)
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = Bgzf.closeQuietly(in)
    }
  }
}

// ------------------------------------------------------------------ BCF

class BcfBgzfSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    VcfBgzfSource.schema
  override def getTable(schema: StructType,
                        partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    BgzfTable.fromOptions(properties, BcfBgzfSource.container)
  // supportsExternalMetadata stays false (the default): the row shape
  // is fixed by the container, so a user-supplied schema is a clear
  // AnalysisException, not a silent override
}

private[sources] object BcfBgzfSource {
  def container(afFields: Seq[String]): BgzfContainer = BgzfContainer(
    classOf[BcfBgzfSource].getName, "graft_bcf", VcfBgzfSource.schema,
    "chrom", (spark, path, rs) => Bcf.regionPlan(spark, path, rs, 0L),
    (spark, cols) => {
      // a pruned schema without `genotypes` skips the per-sample block
      // decode entirely (the binary analog of the VCF split limit)
      val g = Bcf.Grammar(needGenotypes = cols.contains("genotypes"))
      val guard = Bgzf.alignGuard(spark, "graft.bcf.unaligned.ranges")
      new BgzfReaderFactory[BcfRec](BgzfPush.hadoopConf(spark),
        (in, r) => Bgzf.alignedRecords(g, in, r, guard),
        extractors(cols, VcfBgzfSource.afPatterns(afFields)))
    })

  private def extractors(cols: Array[String],
                         patterns: Seq[java.util.regex.Pattern])
    : Array[BcfRec => Any] = cols.map {
    case "chrom" => (r: BcfRec) => UTF8String.fromString(r.chrom)
    case "pos" => (r: BcfRec) => r.pos
    case "id" => (r: BcfRec) => UTF8String.fromString(r.id)
    case "ref" => (r: BcfRec) => UTF8String.fromString(r.ref)
    case "alt" => (r: BcfRec) => UTF8String.fromString(r.alt)
    case "qual" => (r: BcfRec) => UTF8String.fromString(r.qual)
    case "filter" => (r: BcfRec) => UTF8String.fromString(r.filter)
    case "info" => (r: BcfRec) => UTF8String.fromString(r.info)
    case "genotypes" => (r: BcfRec) => new GenericArrayData(
      r.genotypes.map(UTF8String.fromString(_): Any).toArray)
    case "af" => (r: BcfRec) => UTF8String.fromString(
      VcfBgzfSource.afOf(r.info, patterns))
    case other =>
      throw new IllegalArgumentException(s"unknown column $other")
  }
}

// ------------------------------------------------------------------ BAM

class BamBgzfSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BamBgzfSource.schema
  override def getTable(schema: StructType,
                        partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    BgzfTable.fromOptions(properties, _ => BamBgzfSource.container)
  // supportsExternalMetadata stays false (the default) — see the BCF
  // twin above
}

private[sources] object BamBgzfSource {
  /** The [[BamRec]] base row shape ([[Sam.decorate]] adds its flag/
    * ref_end projection on top — filters push through it).
    */
  val schema: StructType = StructType(Seq(
    StructField("qname", StringType),
    StructField("flag", IntegerType, nullable = false),
    StructField("rname", StringType),
    StructField("pos", LongType),
    StructField("mapq", IntegerType, nullable = false),
    StructField("cigar", StringType),
    StructField("rnext", StringType),
    StructField("pnext", LongType),
    StructField("tlen", LongType, nullable = false),
    StructField("seq", StringType),
    StructField("qual", StringType),
    StructField("tags", StringType)))

  val container: BgzfContainer = BgzfContainer(
    classOf[BamBgzfSource].getName, "graft_bam", schema, "rname",
    (spark, path, rs) => Bam.regionPlan(spark, path, rs, 0L),
    (spark, cols) => {
      val guard = Bgzf.alignGuard(spark, "graft.bam.unaligned.ranges")
      new BgzfReaderFactory[BamRec](BgzfPush.hadoopConf(spark),
        (in, r) => Bgzf.alignedRecords(Bam.Grammar, in, r, guard),
        extractors(cols))
    })

  private def extractors(cols: Array[String]): Array[BamRec => Any] = {
    def s(v: String): AnyRef = UTF8String.fromString(v)
    def os(v: Option[String]): AnyRef = v.map(s).orNull
    def ol(v: Option[Long]): AnyRef = v.map(Long.box).orNull
    cols.map {
      case "qname" => (r: BamRec) => s(r.qname)
      case "flag" => (r: BamRec) => r.flag
      case "rname" => (r: BamRec) => os(r.rname)
      case "pos" => (r: BamRec) => ol(r.pos)
      case "mapq" => (r: BamRec) => r.mapq
      case "cigar" => (r: BamRec) => s(r.cigar)
      case "rnext" => (r: BamRec) => os(r.rnext)
      case "pnext" => (r: BamRec) => ol(r.pnext)
      case "tlen" => (r: BamRec) => r.tlen
      case "seq" => (r: BamRec) => os(r.seq)
      case "qual" => (r: BamRec) => os(r.qual)
      case "tags" => (r: BamRec) => os(r.tags)
      case other =>
        throw new IllegalArgumentException(s"unknown column $other")
    }
  }
}
