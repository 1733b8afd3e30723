package graft.functions.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the hot per-row kernels where the
  * higher-order-function formulations (aggregate/zip_with — interpreted,
  * never codegen'd) are too slow: dense-vector dot product, MinHash
  * signatures, SimHash fingerprints.
  *
  * Each expression implements `doGenCode` as a single static call into
  * [[HashOps]], so it participates in WholeStageCodegen like a builtin.
  * Registered under `graft_*` names by [[GraftFunctions.register]] or the
  * `spark.sql.extensions` class [[graft.GraftExtensions]].
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName,
      Seq(left, right).map(_.dataType), Seq.fill(2)(ArrayType(FloatType)))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot_f"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.dotF(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.HashOps.dotF($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName,
      Seq(child.dataType), Seq(ArrayType(StringType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override protected def nullSafeEval(arr: Any): Any =
    HashOps.minhashSig(
      arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.expressions.HashOps.minhashSig($a, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName,
      Seq(child.dataType), Seq(ArrayType(StringType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override protected def nullSafeEval(arr: Any): Any =
    HashOps.shingleHashes(
      arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.expressions.HashOps.shingleHashes($a, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class MinHashFromHashes(child: Expression, k: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName,
      Seq(child.dataType), Seq(ArrayType(LongType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_h"

  override protected def nullSafeEval(arr: Any): Any =
    HashOps.minhashSigFromHashes(
      arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.expressions.HashOps.minhashSigFromHashes($a, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class CosineLshKeys(child: Expression, planes: Int, tables: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName,
      Seq(child.dataType), Seq(ArrayType(FloatType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_keys"

  override protected def nullSafeEval(arr: Any): Any =
    HashOps.cosineLshKeys(
      arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], planes, tables)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.expressions.HashOps.cosineLshKeys($a, $planes, $tables)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** IVF probe: nearest `nprobe` cell ids for a vector against the
  * driver-fitted centroid table (carried as a reference object into
  * generated code — executors never refit).
  */
case class IvfCells(child: Expression, centroids: Array[Array[Float]],
                    nprobe: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName,
      Seq(child.dataType), Seq(ArrayType(FloatType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ivf_cells"

  override protected def nullSafeEval(arr: Any): Any =
    HashOps.nearestCells(
      arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      centroids, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "float[][]")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.expressions.HashOps.nearestCells($a, $ref, $nprobe)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** tar/zip archive creation from parallel (names, bodies) arrays —
  * reference `archive` processor formats tar/zip
  * (processors/archive.adoc:26).
  */
case class ArchiveCreate(left: Expression, right: Expression, zip: Boolean)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName,
      Seq(left.dataType, right.dataType),
      Seq(ArrayType(StringType), ArrayType(BinaryType)))
  override def dataType: DataType = BinaryType
  override def prettyName: String = if (zip) "graft_zip" else "graft_tar"
  private def fn = if (zip) "zipData" else "tarData"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val ad = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val bd = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (zip) ArchiveOps.zipData(ad, bd) else ArchiveOps.tarData(ad, bd)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.ArchiveOps.$fn($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class ArchiveExtract(child: Expression, zip: Boolean)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName,
      Seq(child.dataType), Seq(BinaryType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("body", BinaryType, nullable = false))), containsNull = false)
  override def prettyName: String = if (zip) "graft_unzip" else "graft_untar"
  private def fn = if (zip) "unzipData" else "untarData"

  override protected def nullSafeEval(a: Any): Any =
    if (zip) ArchiveOps.unzipData(a.asInstanceOf[Array[Byte]])
    else ArchiveOps.untarData(a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.expressions.ArchiveOps.$fn($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Recursive-character text chunker (reference `text_chunker`,
  * internal/impl/text/text_chunker_processor.go:58-62).
  */
case class ChunkRecursive(child: Expression, seps: Array[String],
                          chunkSize: Int, overlap: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName,
      Seq(child.dataType), Seq(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_chunk_recursive"

  override protected def nullSafeEval(a: Any): Any =
    ArchiveOps.chunkData(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      seps, chunkSize, overlap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("seps", seps, "java.lang.String[]")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.expressions.ArchiveOps.chunkData($a, $ref, $chunkSize, $overlap)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Markdown-boundary text chunker (strategy `markdown`, same reference
  * processor): heading-delimited sections, recursive merge inside
  * oversized ones.
  */
case class ChunkMarkdown(child: Expression, chunkSize: Int, overlap: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName,
      Seq(child.dataType), Seq(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_chunk_markdown"

  override protected def nullSafeEval(a: Any): Any =
    ArchiveOps.chunkMarkdownData(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], chunkSize, overlap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.expressions.ArchiveOps.chunkMarkdownData($a, $chunkSize, $overlap)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** unicode_segments(mode) — grapheme/word/sentence segmentation over
  * JDK BreakIterator boundaries (see ArchiveOps.unicodeSegments).
  */
case class UnicodeSegments(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName,
      Seq(left.dataType, right.dataType), Seq(StringType, StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_unicode_segments"

  override protected def nullSafeEval(s: Any, m: Any): Any =
    ArchiveOps.unicodeSegments(
      s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      m.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, m) =>
      s"graft.functions.expressions.ArchiveOps.unicodeSegments($s, $m)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `json_documents` scanner kernel: split concatenated JSON documents
  * at depth-0 boundaries (string/escape aware) — codegen'd, not a UDF.
  */
case class JsonDocuments(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName,
      Seq(child.dataType), Seq(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_json_documents"

  override protected def nullSafeEval(s: Any): Any =
    CodecOps.jsonDocuments(
      s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.functions.expressions.CodecOps.jsonDocuments($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName,
      Seq(child.dataType), Seq(ArrayType(StringType)))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(arr: Any): Any =
    HashOps.simhash(
      arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.expressions.HashOps.simhash($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Deep JSON merge (right wins; deleted-sentinel removes keys); output
  * keys sorted. See [[JsonKernel.merge]].
  */
case class JsonMerge(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName,
      Seq(left, right).map(_.dataType), Seq.fill(2)(StringType))
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_json_merge"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JsonKernel.merge(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.JsonKernel.merge($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Canonical JSON (sorted keys, deleted markers stripped). */
/** Two-arg JSON kernel (assign / diff / patch — methods.adoc object
  * ops). `op` is the [[JsonKernel]] method name.
  */
case class JsonBinaryOp(left: Expression, right: Expression, op: String)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName,
      Seq(left, right).map(_.dataType), Seq.fill(2)(StringType))
  override def dataType: DataType = StringType
  override def prettyName: String = s"graft_json_$op"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val l = a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val r = b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    op match {
      case "assign" => JsonKernel.assign(l, r)
      case "diff" => JsonKernel.diff(l, r)
      case "patchChangelog" => JsonKernel.patchChangelog(l, r)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.JsonKernel.$op($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** graft_json_set(doc, pathJsonArray, valueJson) — path assignment with
  * array index/append semantics (JsonKernel.setPath).
  */
case class JsonSetPath(doc: Expression, path: Expression,
                       value: Expression)
    extends TernaryExpression with CodegenFallback {
  override def first: Expression = doc
  override def second: Expression = path
  override def third: Expression = value
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName,
      Seq(doc, path, value).map(_.dataType), Seq.fill(3)(StringType))
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_json_set"
  // doc may legally be null (assignment seeds a fresh container)
  override def nullable: Boolean = path.nullable || value.nullable

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val p = path.eval(input)
    val v = value.eval(input)
    if (p == null || v == null) null
    else JsonKernel.setPath(
      doc.eval(input).asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      p.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(doc = f, path = s, value = t)
}

/** One-arg JSON kernel (collapse / squash — methods.adoc object ops;
  * content — a mapped document's message content).
  */
case class JsonUnaryOp(child: Expression, op: String) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName, Seq(child.dataType), Seq(StringType))
  override def dataType: DataType = StringType
  override def prettyName: String = s"graft_json_$op"

  override protected def nullSafeEval(a: Any): Any = {
    val s = a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    op match {
      case "collapse" => JsonKernel.collapse(s)
      case "squash" => JsonKernel.squash(s)
      case "inferSchema" => JsonKernel.inferSchema(s)
      case "content" => JsonKernel.content(s)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.expressions.JsonKernel.$op($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** explode(path): array/object at the dot path fans out into per-element
  * documents (methods.adoc explode).
  */
case class JsonExplodePath(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName,
      Seq(left, right).map(_.dataType), Seq.fill(2)(StringType))
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_json_explode"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JsonKernel.explodePath(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.JsonKernel.explodePath($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class JsonNormalize(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName, Seq(child.dataType), Seq(StringType))
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_json_normalize"

  override protected def nullSafeEval(a: Any): Any =
    JsonKernel.normalize(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.expressions.JsonKernel.normalize($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Drop named (dot-separated, comma-joined) paths from a JSON object. */
case class JsonWithout(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName,
      Seq(left, right).map(_.dataType), Seq.fill(2)(StringType))
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_json_without"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JsonKernel.without(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.JsonKernel.without($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Runtime registration of the graft_* expression surface (the same
  * builders are injected by `spark.sql.extensions=graft.GraftExtensions`).
  */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder

  /** Structural type check ignoring nullability of array elements. */
  private[expressions] def requireTypes(name: String, actual: Seq[DataType],
      expected: Seq[DataType]): TypeCheckResult = {
    val ok = actual.length == expected.length &&
      actual.zip(expected).forall { case (a, e) => DataType.equalsIgnoreNullability(a, e) }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects ${expected.mkString(", ")} but got ${actual.mkString(", ")}")
  }

  private def intArg(e: Expression, what: String): Int = e match {
    case lit if lit.foldable =>
      lit.eval().asInstanceOf[Number].intValue()
    case other =>
      throw new IllegalArgumentException(s"$what must be a literal, got $other")
  }

  private def strArg(e: Expression, what: String): String = e match {
    case lit if lit.foldable => lit.eval().toString
    case other =>
      throw new IllegalArgumentException(s"$what must be a literal, got $other")
  }

  val builders: Seq[(String, FunctionBuilder)] = Seq(
    "graft_dot_f" -> ((es: Seq[Expression]) => DotProductFloat(es(0), es(1))),
    "graft_minhash" -> ((es: Seq[Expression]) =>
      MinHashSignature(es(0), intArg(es(1), "k"))),
    "graft_minhash_h" -> ((es: Seq[Expression]) =>
      MinHashFromHashes(es(0), intArg(es(1), "k"))),
    "graft_shingle_hashes" -> ((es: Seq[Expression]) =>
      ShingleHashes(es(0), intArg(es(1), "n"))),
    "graft_simhash" -> ((es: Seq[Expression]) => SimHash64(es(0))),
    "graft_json_documents" -> ((es: Seq[Expression]) => JsonDocuments(es(0))),
    "graft_lsh_keys" -> ((es: Seq[Expression]) =>
      CosineLshKeys(es(0), intArg(es(1), "planes"), intArg(es(2), "tables"))),
    "graft_json_merge" -> ((es: Seq[Expression]) => JsonMerge(es(0), es(1))),
    "graft_json_normalize" -> ((es: Seq[Expression]) => JsonNormalize(es(0))),
    "graft_json_content" -> ((es: Seq[Expression]) => JsonUnaryOp(es(0), "content")),
    "graft_json_without" -> ((es: Seq[Expression]) => JsonWithout(es(0), es(1))),
    "graft_json_collapse" -> ((es: Seq[Expression]) => JsonUnaryOp(es(0), "collapse")),
    "graft_json_squash" -> ((es: Seq[Expression]) => JsonUnaryOp(es(0), "squash")),
    "graft_json_infer_schema" -> ((es: Seq[Expression]) => JsonUnaryOp(es(0), "inferSchema")),
    "graft_json_assign" -> ((es: Seq[Expression]) => JsonBinaryOp(es(0), es(1), "assign")),
    "graft_json_set" -> ((es: Seq[Expression]) => JsonSetPath(es(0), es(1), es(2))),
    "graft_json_diff" -> ((es: Seq[Expression]) => JsonBinaryOp(es(0), es(1), "diff")),
    "graft_json_patch" -> ((es: Seq[Expression]) => JsonBinaryOp(es(0), es(1), "patchChangelog")),
    "graft_json_explode" -> ((es: Seq[Expression]) => JsonExplodePath(es(0), es(1))),
    "graft_compress" -> ((es: Seq[Expression]) =>
      Compress(es(0), strArg(es(1), "algo"))),
    "graft_decompress" -> ((es: Seq[Expression]) =>
      Decompress(es(0), strArg(es(1), "algo"))),
    "graft_avro_encode" -> ((es: Seq[Expression]) =>
      AvroEncode(es(0), strArg(es(1), "schema"))),
    "graft_avro_decode" -> ((es: Seq[Expression]) =>
      AvroDecode(es(0), strArg(es(1), "schema"))),
    "graft_wire_encode" -> ((es: Seq[Expression]) =>
      WireEncode(es(0), strArg(es(1), "schema"), intArg(es(2), "schemaId"))),
    "graft_wire_decode" -> ((es: Seq[Expression]) =>
      WireDecode(es(0), strArg(es(1), "schema"))),
    "graft_parse_yaml" -> ((es: Seq[Expression]) => ParseYaml(es(0))),
    "graft_format_yaml" -> ((es: Seq[Expression]) => FormatYaml(es(0))),
    "graft_parse_xml" -> ((es: Seq[Expression]) => ParseXml(es(0))),
    "graft_parse_duration" -> ((es: Seq[Expression]) => ParseDuration(es(0))),
    "graft_parse_duration_iso" -> ((es: Seq[Expression]) => ParseDurationIso(es(0))),
    "graft_format_xml" -> ((es: Seq[Expression]) => FormatXml(es(0))),
    "graft_re_find_object" -> ((es: Seq[Expression]) =>
      ReFindObject(es(0), strArg(es(1), "pattern"),
        strArg(es(2), "all") == "true")),
    "graft_sign_jwt" -> ((es: Seq[Expression]) =>
      JwtHs(es(0), strArg(es(1), "secret"), strArg(es(2), "algo"), sign = true)),
    "graft_parse_jwt" -> ((es: Seq[Expression]) =>
      JwtHs(es(0), strArg(es(1), "secret"), strArg(es(2), "algo"), sign = false)),
    "graft_proto_encode" -> ((es: Seq[Expression]) =>
      ProtoEncode(es(0), strArg(es(1), "schema"))),
    "graft_proto_decode" -> ((es: Seq[Expression]) =>
      ProtoDecode(es(0), strArg(es(1), "schema"))),
    "graft_msgpack_encode" -> ((es: Seq[Expression]) => MsgPackEncode(es(0))),
    "graft_msgpack_decode" -> ((es: Seq[Expression]) => MsgPackDecode(es(0))),
    "graft_parquet_decode" -> ((es: Seq[Expression]) => ParquetBlobDecode(es(0))),
    "graft_parquet_encode" -> ((es: Seq[Expression]) =>
      ParquetBlobEncode(es(0), strArg(es(1), "schema"))),
    "graft_json_schema_check" -> ((es: Seq[Expression]) =>
      JsonSchemaCheck(es(0), strArg(es(1), "schema"))),
    "graft_tar" -> ((es: Seq[Expression]) => ArchiveCreate(es(0), es(1), zip = false)),
    "graft_untar" -> ((es: Seq[Expression]) => ArchiveExtract(es(0), zip = false)),
    "graft_zip" -> ((es: Seq[Expression]) => ArchiveCreate(es(0), es(1), zip = true)),
    "graft_unzip" -> ((es: Seq[Expression]) => ArchiveExtract(es(0), zip = true)),
    "graft_chunk_recursive" -> ((es: Seq[Expression]) =>
      ChunkRecursive(es(0),
        Array("\n\n", "\n", " ", ""),
        intArg(es(1), "chunkSize"), intArg(es(2), "overlap"))),
    "graft_chunk_markdown" -> ((es: Seq[Expression]) =>
      ChunkMarkdown(es(0),
        intArg(es(1), "chunkSize"), intArg(es(2), "overlap"))),
    "graft_unicode_segments" -> ((es: Seq[Expression]) =>
      UnicodeSegments(es(0), es(1))),
    "graft_geoip_lookup" -> ((es: Seq[Expression]) =>
      GeoipLookup(es(0), strArg(es(1), "dbPath"))),
    "graft_compare_bcrypt" -> ((es: Seq[Expression]) =>
      CompareBcrypt(es(0), es(1))),
    "graft_compare_argon2" -> ((es: Seq[Expression]) =>
      CompareArgon2(es(0), es(1))))

  /** Idempotent: re-registering an existing name is skipped, so calling
    * this per-operator neither spams "replaced a previously registered
    * function" warnings nor races under concurrent query builds.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  def expressionInfo(name: String): ExpressionInfo =
    new ExpressionInfo("graft", name)

  def identifiers: Seq[FunctionIdentifier] =
    builders.map { case (n, _) => FunctionIdentifier(n) }
}
