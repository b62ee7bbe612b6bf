package graft.sources

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The VCF container of the one BGZF relation ([[BgzfTable]]) — the
  * piece that makes region pruning AUTOMATIC for SQL users:
  * `readRegion` prunes only when callers know to ask for it, but the
  * plan you want at 100× is the one `Vcf.readAuto(path).where("chrom=
  * '17' AND pos BETWEEN a AND b")` produces on its own. The relation
  * extracts a `chrom` equality (or IN) plus `pos` bounds from the
  * pushed filters and plans the SAME per-file bisected byte windows
  * `readRegion` uses ([[Vcf.regionPlan]] — sharded directories/globs
  * bisect per shard, unrankable files full-scan, merged windows tile
  * into ranges). Every filter is also RETAINED for Spark to re-apply
  * above the scan, so the window's bounded overhang of out-of-range
  * rows is invisible and pruning can never change results — only skip
  * bytes. Column pruning reaches the per-line parse here (a
  * `select(chrom, pos)` never splits genotype columns or allocates the
  * array). This file holds what is VCF's own: the provider, the row
  * shape, the [[BgzfContainer]] value and the line reader's split and
  * extractors.
  *
  * Row parity: the partition reader re-implements [[Vcf.parseLines]]'s
  * column semantics record-for-record (raw-line header/blank filter
  * with Spark's space-only `trim`, trailing-`\r` strip before an
  * unlimited split, digit-guarded 18-digit pos cast, `slice(f, 10, …)`
  * genotypes, first-matching `afFields` INFO extraction with the same
  * unanchored regex) — VcfV2Spec pins read-vs-read row identity and
  * the g59 gate pins it against the independent DuckDB text parse.
  *
  * Usage: `spark.read.format("graft.sources.VcfBgzfSource")
  * .load(path)` — [[Vcf.readAuto]] routes its splittable-BGZF branch
  * here, so SQL-shaped access gets pruning with no API change. BGZF
  * files only (plain text already flows through `spark.read.text`,
  * where there is no member chain to prune).
  */
class VcfBgzfSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    VcfBgzfSource.schema

  override def getTable(schema: StructType,
                        partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    BgzfTable.fromOptions(properties, VcfBgzfSource.container)

  // supportsExternalMetadata stays false (the default): the row shape
  // is fixed by the container, so a user-supplied schema is a clear
  // AnalysisException, not a silent override
}

private[sources] object VcfBgzfSource {
  def container(afFields: Seq[String]): BgzfContainer = BgzfContainer(
    classOf[VcfBgzfSource].getName, "graft_vcf_bgzf", schema, "chrom",
    (spark, path, rs) => Vcf.regionPlan(spark, path, rs, maxSpan = 0L),
    (spark, cols) => readers(spark, cols, afFields),
    wantsBgzf = true)

  /** The line reader of one pruned scan. The tab split is bounded by
    * the LAST field the pruned schema touches: a (chrom, pos) panel
    * scan over a 20-sample cohort must not materialize 29 field strings
    * per line — split with limit k+2 yields fields 0..k intact plus one
    * un-split remainder. Only a schema that asks for `genotypes`
    * (fields 10+) needs the full split. One extractor per REQUIRED
    * column, each bound to the SAME shared field table the split bound
    * came from — a pruned scan never splits genotype columns it will
    * not emit.
    */
  private def readers(spark: org.apache.spark.sql.SparkSession,
                      cols: Array[String],
                      afFields: Seq[String]): PartitionReaderFactory = {
    val maxField: Int =
      if (cols.contains("genotypes")) Int.MaxValue
      else cols.map(fieldIndex).foldLeft(0)(math.max)
    val splitLimit = if (maxField == Int.MaxValue) -1 else maxField + 2
    val patterns = afPatterns(afFields)
    val extractors: Array[Array[String] => Any] = cols.map {
      case "pos" =>
        val i = fieldIndex("pos")
        (f: Array[String]) => if (f.length > i) tryLong(f(i)) else null
      case "genotypes" => (f: Array[String]) =>
        new GenericArrayData(f.drop(9).map(UTF8String.fromString(_): Any))
      case "af" =>
        val i = fieldIndex("af")
        (f: Array[String]) =>
          if (f.length > i) UTF8String.fromString(afOf(f(i), patterns))
          else null
      case name =>
        val i = fieldIndex(name)
        (f: Array[String]) =>
          if (f.length > i) UTF8String.fromString(f(i)) else null
    }
    new BgzfReaderFactory[Array[String]](BgzfPush.hadoopConf(spark),
      (in, r) => Bgzf.rangeLinesOf(in, r).filter(isData).map { line =>
        val stripped =
          if (line.nonEmpty && line.charAt(line.length - 1) == '\r')
            line.substring(0, line.length - 1)
          else line
        stripped.split("\t", splitLimit)
      }, extractors)
  }

  /** The [[Vcf.parseLines]] row shape, fixed order. */
  val schema: StructType = StructType(Seq(
    StructField("chrom", StringType),
    StructField("pos", LongType),
    StructField("id", StringType),
    StructField("ref", StringType),
    StructField("alt", StringType),
    StructField("qual", StringType),
    StructField("filter", StringType),
    StructField("info", StringType),
    StructField("genotypes", ArrayType(StringType, containsNull = true),
      nullable = false),
    StructField("af", StringType)))

  /** [[Casts.tryLong]]'s digit guard, record-side. */
  private val LongGuard = Pattern.compile("^-?[0-9]{1,18}$")

  private[sources] def tryLong(s: String): java.lang.Long =
    if (s != null && LongGuard.matcher(s).matches())
      java.lang.Long.valueOf(s)
    else null

  /** [[Vcf.infoField]] record-side: first unanchored `(?:^|;)key=` hit,
    * empty → null (the group can't be empty, kept for exact parity).
    */
  private[sources] def afOf(info: String,
                            patterns: Seq[Pattern]): String = {
    if (info == null) return null
    patterns.foreach { p =>
      val m = p.matcher(info)
      if (m.find()) {
        val g = m.group(1)
        if (g != null && g.nonEmpty) return g
      }
    }
    null
  }

  private[sources] def afPatterns(afFields: Seq[String]): Seq[Pattern] =
    afFields.map(k => Pattern.compile("(?:^|;)" + k + "=([^;]+)"))

  /** parseLines' raw-line drop: '#' rows and blank rows — Spark's
    * `trim` strips ASCII spaces only, so a tabs-only line is KEPT
    * (parses to empty fields) exactly as the column pipeline keeps it.
    */
  private[sources] def isData(line: String): Boolean =
    line.nonEmpty && line.charAt(0) != '#' && line.exists(_ != ' ')

  /** One shared column -> source-tab-field table: BOTH the split bound
    * (maxField) and the per-column extractors derive from it, so the
    * two can never drift (r17 advice — they were previously two
    * hand-maintained copies of the same indices). `genotypes` (fields
    * 10+) is the only column outside the table; it forces a full split.
    */
  private[sources] val FieldOf: Map[String, Int] = Map(
    "chrom" -> 0, "pos" -> 1, "id" -> 2, "ref" -> 3, "alt" -> 4,
    "qual" -> 5, "filter" -> 6, "info" -> 7, "af" -> 7)

  private[sources] def fieldIndex(name: String): Int =
    FieldOf.getOrElse(name,
      throw new IllegalArgumentException(s"unknown column $name"))
}
