package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types._

import graft.functions.{NativeHashOps, NativeMediaOps, NativeProteinOps,
  NativeSeqOps}

/** What one kernel argument accepts. */
sealed trait ArgType { def accepts(t: DataType): Boolean }

object ArgType {
  /** Any of `types`, compared by catalog string — element and field
    * nullability do not matter.
    */
  final case class OneOf(types: DataType*) extends ArgType {
    def accepts(t: DataType): Boolean =
      types.exists(_.catalogString == t.catalogString)
    override def toString: String =
      types.map(_.catalogString).mkString(" or ")
  }

  /** Any array: the protein folds read their variant structs by ordinal. */
  case object AnyArray extends ArgType {
    def accepts(t: DataType): Boolean = t.isInstanceOf[ArrayType]
    override def toString: String = "array"
  }
}

/** One compiled row kernel: the `graft_*` name, the static method that
  * computes it (`target` is a Scala object; generated code calls its
  * static forwarder), the argument and result types, and whether the
  * result can be NULL for non-NULL arguments.
  */
final case class Kernel(name: String, target: Class[_], method: String,
                        inputTypes: Seq[ArgType], result: DataType,
                        nullable: Boolean)

/** The one Catalyst expression behind every [[Kernel]]: a named
  * `StaticInvoke`. Interpreted `eval` and whole-stage codegen both
  * dispatch to the same static method, so a kernel costs one compiled
  * call per row inside the generated stage, and `explain` shows the
  * `graft_*` name. Any NULL argument gives NULL.
  */
case class GraftCall(fn: Kernel, children: Seq[Expression])
  extends Expression {

  @transient private lazy val invoke = StaticInvoke(fn.target, fn.result,
    fn.method, children, returnNullable = fn.nullable)

  override def prettyName: String = fn.name
  override def dataType: DataType = fn.result
  override def nullable: Boolean = fn.nullable || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  // interpreted StaticInvoke reuses one argument buffer per instance
  override def stateful: Boolean = true
  override protected def flatArguments: Iterator[Any] = children.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length != fn.inputTypes.length)
      TypeCheckResult.TypeCheckFailure(s"${fn.name} takes " +
        s"${fn.inputTypes.length} argument(s), got ${children.length}")
    else children.zip(fn.inputTypes).zipWithIndex.collectFirst {
      case ((c, want), i) if !want.accepts(c.dataType) =>
        TypeCheckResult.TypeCheckFailure(s"${fn.name} argument ${i + 1} " +
          s"wants $want, got ${c.dataType.catalogString}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  override def eval(input: InternalRow): Any = invoke.eval(input)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    invoke.genCode(ctx)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** The kernel table: every `graft_*` function and how it binds to
  * Catalyst. [[register]] and [[GraftExtensions]] expose the SQL
  * functions; [[call]] builds any kernel, the Column-only pipeline
  * kernels included, as a Column.
  */
object GraftFunctions {
  import ArgType._

  private val str = OneOf(StringType)
  private val int = OneOf(IntegerType)
  private val long = OneOf(LongType)
  private val bool = OneOf(BooleanType)
  private val bin = OneOf(BinaryType)
  private val strs = OneOf(ArrayType(StringType))
  private val dbls = OneOf(ArrayType(DoubleType))

  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  private def hash(name: String, method: String, result: DataType,
                   args: ArgType*) =
    Kernel(name, NativeHashOps.getClass, method, args, result,
      nullable = false)

  private def media(name: String, method: String, result: DataType,
                    args: ArgType*) =
    Kernel(name, NativeMediaOps.getClass, method, args, result,
      nullable = true)

  private def protein(name: String, method: String, result: DataType,
                      args: ArgType*) =
    Kernel(name, NativeProteinOps.getClass, method, args, result,
      nullable = true)

  private val frames = ArrayType(struct("ploc" -> LongType,
    "aa" -> StringType), containsNull = false)

  /** The SQL-callable kernels. */
  val all: Seq[Kernel] = Seq(
    hash("graft_simhash", "simhash", StringType, strs, int),
    hash("graft_minhash_sig", "minhashSig",
      ArrayType(LongType, containsNull = false), strs, int),
    hash("graft_word_shingles", "wordShingles",
      ArrayType(StringType, containsNull = false), strs, int),
    hash("graft_md5_char_ngrams", "md5CharNgrams",
      ArrayType(StringType, containsNull = false), str, int),
    hash("graft_md5_buckets", "md5Buckets", ArrayType(LongType), strs, int),
    hash("graft_md5_array", "md5Array", ArrayType(StringType), strs),
    hash("graft_hamming", "hamming", IntegerType, str, str),
    hash("graft_letter_entropy", "letterEntropy", DoubleType, str),
    hash("graft_cosine", "cosine", DoubleType, dbls, dbls),
    hash("graft_dot", "dot", DoubleType, dbls, dbls),
    Kernel("graft_translate_dna", NativeSeqOps.getClass, "translateDna",
      Seq(str, int), StringType, nullable = false),
    hash("graft_winnow_fps", "winnowFps",
      ArrayType(LongType, containsNull = false), strs, int, int),
    media("graft_img_decode", "imgDecode", struct("width" -> IntegerType,
      "height" -> IntegerType, "channels" -> IntegerType), bin),
    media("graft_img_resize", "imgResize", struct(
      "resized_w" -> IntegerType, "resized_h" -> IntegerType,
      "resized_mean" -> DoubleType), bin, int),
    media("graft_img_grid", "imgGrid",
      ArrayType(DoubleType, containsNull = false), bin, int, int),
    media("graft_wav_meta", "wavMeta", struct(
      "sample_rate" -> IntegerType, "channels" -> IntegerType,
      "n_frames" -> IntegerType, "rms" -> DoubleType,
      "peak" -> IntegerType), bin),
    media("graft_wav_frames", "wavFrames", ArrayType(struct(
      "frame" -> IntegerType, "n_samples" -> IntegerType,
      "rms" -> DoubleType, "zcr" -> DoubleType)), bin, int),
    media("graft_mp4_meta", "mp4Meta", struct(
      "major_brand" -> StringType, "timescale" -> IntegerType,
      "duration" -> LongType, "n_tracks" -> IntegerType), bin),
    media("graft_jpeg_meta", "jpegMeta", struct("height" -> IntegerType,
      "width" -> IntegerType, "precision" -> IntegerType,
      "n_components" -> IntegerType, "progressive" -> BooleanType), bin),
    media("graft_exif_meta", "exifMeta", struct(
      "byte_order" -> StringType, "orientation" -> IntegerType,
      "make" -> StringType, "datetime" -> StringType), bin),
    media("graft_id3_meta", "id3Meta", struct("version" -> IntegerType,
      "tag_size" -> IntegerType, "n_frames" -> IntegerType,
      "title" -> StringType, "artist" -> StringType,
      "album" -> StringType), bin),
    media("graft_deflate_len", "deflateLen", IntegerType,
      OneOf(BinaryType, StringType))
  )

  /** The VCF genotype rewrite and the HaploProteins per-row folds;
    * Column-only, not SQL functions.
    */
  private val pipelineKernels: Seq[Kernel] = Seq(
    Kernel("graft_rewrite_gts", NativeSeqOps.getClass, "rewriteGts",
      Seq(strs, int), ArrayType(StringType), nullable = false),
    protein("graft_rna_allele", "rnaAllele", struct("rna" -> LongType,
      "ref" -> StringType, "alt" -> StringType, "intersect" -> IntegerType),
      OneOf(ArrayType(struct("start" -> LongType, "end" -> LongType))),
      long, str, str),
    protein("graft_affected", "affected", frames, str, long, long, long,
      long),
    protein("graft_start_state", "startState", struct("sl" -> LongType,
      "rf" -> IntegerType, "ps" -> LongType, "lost" -> BooleanType,
      "invalid" -> BooleanType, "lostOrd" -> LongType),
      AnyArray, long, int, long, bool, bool, bool),
    protein("graft_apply_vars", "applyVars",
      struct("s" -> StringType, "ok" -> BooleanType), AnyArray, str),
    protein("graft_conseq", "conseq", struct("conseq" -> StringType,
      "protch" -> StringType, "syn" -> BooleanType),
      OneOf(frames), OneOf(frames), str, bool, bool)
  )

  private val byName = (all ++ pipelineKernels).map(k => k.name -> k).toMap

  /** Function-registry entries for [[all]]. */
  def descriptions
    : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    all.map { fn =>
      (FunctionIdentifier(fn.name),
        new ExpressionInfo(classOf[GraftCall].getName, fn.name),
        (children: Seq[Expression]) => GraftCall(fn, children))
    }

  /** Idempotent per-session registration (operators call this; the
    * spark.sql.extensions path goes through [[GraftExtensions]]).
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptions.foreach { case (ident, info, builder) =>
      if (!registry.functionExists(ident))
        registry.registerFunction(ident, info, builder)
    }
  }

  /** The kernel `name` applied to `args`, with no registry round trip. */
  def call(name: String, args: Column*): Column =
    GraftColumnBridge.column(
      GraftCall(byName(name), args.map(GraftColumnBridge.expression)))
}
