package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.{Platform, UTF8StringBuilder}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level cell writers behind [[DelimitedLine]], shared by
  * interpreted eval and the codegen'd calls. Every writer appends to the
  * line's one builder; escapes are precomputed byte sequences, and runs
  * of bytes that need none are copied in one call.
  */
object DelimitedKernel {
  private final val Off = Platform.BYTE_ARRAY_OFFSET
  private def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")

  private val NullBytes = ascii("null")
  private val TrueBytes = ascii("true")
  private val FalseBytes = ascii("false")
  private val QuoteBytes = ascii("\"")

  /** Jackson's default string escaping for ASCII (non-ASCII bytes pass
    * verbatim): short escapes for `"`, `\`, \b \t \n \f \r, upper-case
    * `\u00XX` for the other control characters.
    */
  private val JsonEscapes: Array[Array[Byte]] = Array.tabulate(128) { c =>
    c match {
      case '"'  => ascii("\\\"")
      case '\\' => ascii("\\\\")
      case '\b' => ascii("\\b")
      case '\t' => ascii("\\t")
      case '\n' => ascii("\\n")
      case '\f' => ascii("\\f")
      case '\r' => ascii("\\r")
      case _ if c < 0x20 => ascii(f"\\u00$c%02X")
      case _ => null
    }
  }

  /** A backslash before `,`, `\` and each character of Java regex `\s`
    * (`[ \t\n\x0B\f\r]`).
    */
  private val BackSlashEscapes: Array[Array[Byte]] = Array.tabulate(128) { c =>
    if (",\\ \t\n\u000b\f\r".indexOf(c) >= 0) Array('\\'.toByte, c.toByte) else null
  }

  private def put(b: UTF8StringBuilder, bytes: Array[Byte]): Unit =
    b.appendBytes(bytes, Off, bytes.length)

  /** `s` itself when valid UTF-8, else its `toString` re-encoded, so
    * undecodable bytes become U+FFFD the way a round trip through a Java
    * string (Jackson, Java regex) renders them.
    */
  private def decoded(s: UTF8String): UTF8String =
    if (s.isValid) s else UTF8String.fromString(s.toString)

  private def appendEscaped(b: UTF8StringBuilder, s: UTF8String,
      table: Array[Array[Byte]]): Unit = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var run = 0
    var i = 0
    while (i < n) {
      val c = Platform.getByte(base, off + i)
      if (c >= 0) {
        val e = table(c)
        if (e != null) {
          b.appendBytes(base, off + run, i - run)
          put(b, e)
          run = i + 1
        }
      }
      i += 1
    }
    b.appendBytes(base, off + run, n - run)
  }

  def appendNull(b: UTF8StringBuilder): Unit = put(b, NullBytes)

  def appendJsonString(b: UTF8StringBuilder, s: UTF8String): Unit = {
    put(b, QuoteBytes)
    appendEscaped(b, decoded(s), JsonEscapes)
    put(b, QuoteBytes)
  }

  def appendJsonLong(b: UTF8StringBuilder, v: Long): Unit =
    b.append(java.lang.Long.toString(v))

  def appendJsonBoolean(b: UTF8StringBuilder, v: Boolean): Unit =
    put(b, if (v) TrueBytes else FalseBytes)

  /** Jackson's `writeNumber`: `Double.toString`, with NaN and ±Infinity
    * written as JSON strings.
    */
  def appendJsonDouble(b: UTF8StringBuilder, v: Double): Unit =
    if (java.lang.Double.isFinite(v)) b.append(java.lang.Double.toString(v))
    else { put(b, QuoteBytes); b.append(java.lang.Double.toString(v)); put(b, QuoteBytes) }

  def appendJsonFloat(b: UTF8StringBuilder, v: Float): Unit =
    if (java.lang.Float.isFinite(v)) b.append(java.lang.Float.toString(v))
    else { put(b, QuoteBytes); b.append(java.lang.Float.toString(v)); put(b, QuoteBytes) }

  /** The text of a one-element JSON array without its brackets. */
  def appendJsonArrayItem(b: UTF8StringBuilder, s: UTF8String): Unit =
    b.appendBytes(s.getBaseObject, s.getBaseOffset + 1, s.numBytes - 2)

  def appendText(b: UTF8StringBuilder, s: UTF8String): Unit = b.append(s)

  def appendBackSlash(b: UTF8StringBuilder, s: UTF8String): Unit =
    appendEscaped(b, decoded(s), BackSlashEscapes)
}

/** One delimited text line per row: each child rendered by its
  * [[DelimitedLine.Encoding]], `sep` between cells, `null` for a null
  * cell. The whole line is written into one `UTF8StringBuilder`: no
  * per-cell intermediate strings, no per-cell JSON generator. Codegen
  * splits the per-cell code into methods
  * (`splitExpressionsWithCurrentInputs`), so frames of any width compile.
  */
case class DelimitedLine(children: Seq[Expression], sep: String,
    encodings: Seq[DelimitedLine.Encoding]) extends Expression {
  import DelimitedLine._

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "delimited_line"

  override def checkInputDataTypes(): TypeCheckResult =
    if (encodings.length != children.length)
      TypeCheckResult.TypeCheckFailure(
        s"delimited_line has ${children.length} cells but ${encodings.length} encodings")
    else children.zip(encodings).collectFirst {
      case (c, e) if !e.accepts(c.dataType) =>
        TypeCheckResult.TypeCheckFailure(s"delimited_line: $e cannot render ${c.dataType}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  @transient private lazy val sepUtf8 = UTF8String.fromString(sep)
  @transient private lazy val cells: IndexedSeq[(Expression, (UTF8StringBuilder, Any) => Unit)] =
    children.zip(encodings).map { case (c, e) => (c, cellWriter(e, c.dataType)._2) }.toIndexedSeq
  // the last line's length sizes the next line's builder
  @transient private var sizeHint = 64

  override def eval(input: InternalRow): Any = {
    val b = new UTF8StringBuilder(sizeHint)
    var i = 0
    while (i < cells.length) {
      if (i > 0) b.append(sepUtf8)
      val (c, write) = cells(i)
      val v = c.eval(input)
      if (v == null) DelimitedKernel.appendNull(b) else write(b, v)
      i += 1
    }
    val line = b.build()
    sizeHint = line.numBytes + 16
    line
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = DelimitedKernel.getClass.getName.stripSuffix("$")
    val builderClass = classOf[UTF8StringBuilder].getName
    val b = ctx.freshName("line")
    val sepRef = ctx.addReferenceObj("sep", UTF8String.fromString(sep))
    val hint = ctx.addMutableState(CodeGenerator.JAVA_INT, "lineSizeHint", v => s"$v = 64;")
    val cellCodes = children.zip(encodings).zipWithIndex.map { case ((c, e), i) =>
      val cell = c.genCode(ctx)
      s"""
         |${if (i > 0) s"$b.append($sepRef);" else ""}
         |${cell.code}
         |if (${cell.isNull}) $k.appendNull($b);
         |else $k.${cellWriter(e, c.dataType)._1}($b, ${cell.value});
       """.stripMargin
    }
    val body = ctx.splitExpressionsWithCurrentInputs(
      expressions = cellCodes,
      funcName = "delimitedCells",
      extraArguments = (builderClass, b) :: Nil)
    ev.copy(code = code"""
      $builderClass $b = new $builderClass($hint);
      $body
      ${CodeGenerator.javaType(dataType)} ${ev.value} = $b.build();
      $hint = ${ev.value}.numBytes() + 16;
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DelimitedLine = copy(children = newChildren)
}

object DelimitedLine {
  /** How one cell is rendered. */
  sealed trait Encoding extends Serializable {
    def accepts(dt: DataType): Boolean
  }
  /** A string, integral, boolean, double or float value written as its
    * JSON text, byte-identical to Jackson's.
    */
  case object Json extends Encoding {
    def accepts(dt: DataType): Boolean = rendersJson(dt)
  }
  /** A `to_json(array(c))` string, written without its brackets. */
  case object JsonArrayItem extends Encoding {
    def accepts(dt: DataType): Boolean = dt.isInstanceOf[StringType]
  }
  /** A string written unchanged. */
  case object Text extends Encoding {
    def accepts(dt: DataType): Boolean = dt.isInstanceOf[StringType]
  }
  /** A string with `,`, `\` and whitespace each escaped by a backslash. */
  case object BackSlash extends Encoding {
    def accepts(dt: DataType): Boolean = dt.isInstanceOf[StringType]
  }

  /** The types [[Json]] renders directly. */
  def rendersJson(dt: DataType): Boolean = dt match {
    case _: StringType | ByteType | ShortType | IntegerType | LongType |
        BooleanType | DoubleType | FloatType => true
    case _ => false
  }

  /** The kernel method a cell's generated code calls, and the same
    * write for interpreted eval.
    */
  private def cellWriter(e: Encoding, dt: DataType): (String, (UTF8StringBuilder, Any) => Unit) = {
    import DelimitedKernel._
    (e, dt) match {
      case (Json, _: StringType) =>
        ("appendJsonString", (b, v) => appendJsonString(b, v.asInstanceOf[UTF8String]))
      case (Json, ByteType | ShortType | IntegerType | LongType) =>
        ("appendJsonLong", (b, v) => appendJsonLong(b, v.asInstanceOf[Number].longValue))
      case (Json, BooleanType) =>
        ("appendJsonBoolean", (b, v) => appendJsonBoolean(b, v.asInstanceOf[Boolean]))
      case (Json, DoubleType) =>
        ("appendJsonDouble", (b, v) => appendJsonDouble(b, v.asInstanceOf[Double]))
      case (Json, FloatType) =>
        ("appendJsonFloat", (b, v) => appendJsonFloat(b, v.asInstanceOf[Float]))
      case (JsonArrayItem, _) =>
        ("appendJsonArrayItem", (b, v) => appendJsonArrayItem(b, v.asInstanceOf[UTF8String]))
      case (Text, _) =>
        ("appendText", (b, v) => appendText(b, v.asInstanceOf[UTF8String]))
      case (BackSlash, _) =>
        ("appendBackSlash", (b, v) => appendBackSlash(b, v.asInstanceOf[UTF8String]))
      case _ => throw new IllegalArgumentException(s"delimited_line: $e cannot render $dt")
    }
  }
}
