package graft.types

import org.apache.spark.sql.types._

/** ClickHouse column-type model: the reference sink mapper's type domain
  * (glassflow-api/internal/constants.go:87-118,
  * internal/mapper/clickhouse_validate.go:15-52): String, FixedString(N),
  * Bool, Int8..64, UInt8..64, Float32/64, Enum8/16, UUID, DateTime,
  * DateTime64(p[,tz]), LowCardinality(...) wrappers, Map(...), Array(...)
  * including Array(Map(...)) — EXTENDED beyond the reference with
  * Decimal(p,s) (incl. the Decimal32/64/128 aliases), Date/Date32,
  * Tuple(...) (named and unnamed), Nested(...) (parsed as
  * Array(Tuple(...)), the server's flatten_nested=0 shape) and
  * IPv4/IPv6 — the families real ClickHouse tables use that the
  * reference mapper rejects (internal/mapper/clickhouse_validate.go:15-52).
  * Nullable stays unsupported at the API surface, matching the reference.
  */
sealed trait CHType {
  /** The Spark type a column of this CH type materializes as. */
  def sparkType: DataType
}

object CHType {
  case object CHString extends CHType { val sparkType: DataType = StringType }
  final case class CHFixedString(n: Int) extends CHType { val sparkType: DataType = StringType }
  case object CHBool extends CHType { val sparkType: DataType = BooleanType }
  /** bits ∈ {8,16,32,64} */
  final case class CHInt(bits: Int) extends CHType {
    val sparkType: DataType = bits match {
      case 8 => ByteType; case 16 => ShortType; case 32 => IntegerType; case 64 => LongType
    }
  }
  /** Unsigned: widened one step for range fidelity; UInt64 → Decimal(20,0)
    * (a Long cannot hold 2^64-1 — reference range checks in mapper/utils.go:411-462). */
  final case class CHUInt(bits: Int) extends CHType {
    val sparkType: DataType = bits match {
      case 8 => ShortType; case 16 => IntegerType; case 32 => LongType
      case 64 => DecimalType(20, 0)
    }
  }
  case object CHFloat32 extends CHType { val sparkType: DataType = FloatType }
  case object CHFloat64 extends CHType { val sparkType: DataType = DoubleType }
  /** Decimal(p,s), p ≤ 38 (Spark's DecimalType ceiling — CH Decimal256 is
    * out of domain). Wire form is a scaled integer: Decimal32 (p ≤ 9),
    * Decimal64 (p ≤ 18) or Decimal128 (p ≤ 38). */
  final case class CHDecimal(precision: Int, scale: Int) extends CHType {
    require(precision >= 1 && precision <= 38 && scale >= 0 && scale <= precision,
      s"Decimal($precision, $scale) out of the supported domain")
    val sparkType: DataType = DecimalType(precision, scale)
  }
  /** Date: u16 days since 1970-01-01 (range [1970-01-01, 2149-06-06]). */
  case object CHDate extends CHType { val sparkType: DataType = DateType }
  /** Date32: i32 days since epoch, range [1900-01-01, 2299-12-31]. */
  case object CHDate32 extends CHType { val sparkType: DataType = DateType }
  final case class CHEnum(bits: Int, values: Map[String, Int]) extends CHType {
    val sparkType: DataType = StringType
  }
  case object CHUUID extends CHType { val sparkType: DataType = StringType }
  final case class CHDateTime(tz: Option[String]) extends CHType {
    val sparkType: DataType = TimestampType
  }
  final case class CHDateTime64(precision: Int, tz: Option[String]) extends CHType {
    val sparkType: DataType = TimestampType
  }
  final case class CHLowCardinality(inner: CHType) extends CHType {
    def sparkType: DataType = inner.sparkType
  }
  /** Nullable(T): transparent at the SINK tier (Spark columns are nullable;
    * the server enforces column nullability) — the reference's mapper only
    * fails on Nullable when a present value reaches ConvertValue, while its
    * API-layer validation rejects the type outright
    * (clickhouse_validate.go:15-52 lists no Nullable; sink.feature
    * "Import events with Nullable string" drives the sink with
    * destination_type Nullable(String) and absent values). [[isSupported]]
    * mirrors the strict API surface and still rejects it. */
  final case class CHNullable(inner: CHType) extends CHType {
    def sparkType: DataType = inner.sparkType
  }
  /** ClickHouse Map target — values are coerced to String
    * (reference mapper/types.go:238-276). */
  final case class CHMap(key: CHType, value: CHType) extends CHType {
    val sparkType: DataType = MapType(StringType, StringType)
  }
  final case class CHArray(inner: CHType) extends CHType {
    def sparkType: DataType = ArrayType(inner.sparkType)
  }
  /** Tuple(T1, T2, …) / Tuple(n1 T1, n2 T2, …). Named elements
    * materialize as a Spark struct with those field names; unnamed as
    * `_1`.._n (the names Spark needs but the wire never sees — Native
    * lays tuple elements out positionally). ClickHouse requires
    * all-named or all-unnamed, enforced at parse. */
  final case class CHTuple(elems: Seq[(Option[String], CHType)]) extends CHType {
    def isNamed: Boolean = elems.nonEmpty && elems.forall(_._1.isDefined)
    /** Struct field names: declared names, or positional `_i`. */
    def elementNames: Seq[String] =
      elems.zipWithIndex.map { case ((n, _), i) => n.getOrElse(s"_${i + 1}") }
    def sparkType: DataType = StructType(
      elems.zip(elementNames).map { case ((_, t), n) => StructField(n, t.sparkType) })
  }
  /** IPv4: a UInt32 of the dotted quad on the wire; dotted-quad text at
    * the engine tier (see [[IpCodec]]). */
  case object CHIPv4 extends CHType { val sparkType: DataType = StringType }
  /** IPv6: 16 network-order bytes on the wire; RFC 5952 text at the
    * engine tier. */
  case object CHIPv6 extends CHType { val sparkType: DataType = StringType }

  final case class ParseException(msg: String) extends RuntimeException(msg)

  private def mkDecimal(p: Int, s: Int, raw: String): CHDecimal =
    try CHDecimal(p, s)
    catch { case e: IllegalArgumentException => throw ParseException(
      s"unsupported decimal '$raw': ${e.getMessage}") }

  /** Parse a ClickHouse type string, e.g. `LowCardinality(FixedString(16))`,
    * `Array(Map(String, String))`, `DateTime64(3, 'UTC')`,
    * `Enum8('a' = 1, 'b' = 2)`. Unsupported types raise ParseException —
    * the same validation surface as clickhouse_validate.go. */
  def parse(s: String): CHType = {
    val t = s.trim
    val paren = t.indexOf('(')
    val (name, args) =
      if (paren < 0) (t, Seq.empty[String])
      else {
        if (!t.endsWith(")")) throw ParseException(s"malformed type: $s")
        (t.substring(0, paren).trim, splitArgs(t.substring(paren + 1, t.length - 1)))
      }
    name match {
      case "String" => CHString
      case "FixedString" => CHFixedString(args.head.trim.toInt)
      case "Bool" | "Boolean" => CHBool
      case "Int8" => CHInt(8)
      case "Int16" => CHInt(16)
      case "Int32" => CHInt(32)
      case "Int64" => CHInt(64)
      case "UInt8" => CHUInt(8)
      case "UInt16" => CHUInt(16)
      case "UInt32" => CHUInt(32)
      case "UInt64" => CHUInt(64)
      case "Float32" => CHFloat32
      case "Float64" => CHFloat64
      case "Decimal" =>
        if (args.length != 2) throw ParseException(s"Decimal needs (p, s): $s")
        mkDecimal(args(0).trim.toInt, args(1).trim.toInt, s)
      // CH's width aliases fix the precision, the argument is the scale
      case "Decimal32" => mkDecimal(9, args.head.trim.toInt, s)
      case "Decimal64" => mkDecimal(18, args.head.trim.toInt, s)
      case "Decimal128" => mkDecimal(38, args.head.trim.toInt, s)
      case "Date" => CHDate
      case "Date32" => CHDate32
      case "UUID" => CHUUID
      case "DateTime" => CHDateTime(args.headOption.map(stripQuotes))
      case "DateTime64" =>
        // bare DateTime64 is legal (reference accepts the unparameterized
        // name, clickhouse_validate.go:32, and its observability demo uses
        // it); ClickHouse's default precision is 3
        CHDateTime64(args.headOption.map(_.trim.toInt).getOrElse(3),
          args.lift(1).map(stripQuotes))
      case "Enum8" | "Enum16" =>
        val bits = if (name == "Enum8") 8 else 16
        // the label is a CH string literal: backslash escapes ('a\'b') and
        // '=' inside the label are both legal, so a naive split on '='
        // corrupts — match the full literal, then the id
        val entry = """^\s*'((?:[^'\\]|\\.)*)'\s*=\s*(-?\d+)\s*$""".r
        CHEnum(bits, args.map {
          case entry(label, id) => unescape(label) -> id.toInt
          case a => throw ParseException(s"malformed enum entry '$a' in: $s")
        }.toMap)
      case "LowCardinality" =>
        // real-server rule (default settings): LowCardinality is for
        // string-shaped data; numeric/date inners are "suspicious" and
        // CREATE TABLE rejects them (error 455
        // SUSPICIOUS_TYPE_FOR_LOW_CARDINALITY) unless
        // allow_suspicious_low_cardinality_types is set — a type this
        // engine would accept but a real table can't hold is a config-time
        // lie, so parse rejects it too
        val inner = parse(args.head)
        def lcOk(t: CHType): Boolean = t match {
          case CHString | CHFixedString(_) => true
          case CHNullable(i) => lcOk(i)
          case _ => false
        }
        if (!lcOk(inner))
          throw ParseException(
            s"LowCardinality(${args.head.trim}) is suspicious and prohibited " +
              "by default (real-server SUSPICIOUS_TYPE_FOR_LOW_CARDINALITY); " +
              "use the plain type")
        CHLowCardinality(inner)
      case "Nullable" =>
        val inner = parse(args.head)
        // real-server rule: composite/LC inners cannot be Nullable —
        // "Nested type X cannot be inside Nullable type" (error 43);
        // Nullable is for scalars, LowCardinality(Nullable(T)) is the
        // legal nesting order for nullable dictionaries
        inner match {
          case CHLowCardinality(_) | CHArray(_) | CHMap(_, _) | CHTuple(_) =>
            throw ParseException(
              s"Nested type ${args.head.trim} cannot be inside Nullable type " +
                "(real-server rule; for dictionaries use LowCardinality(Nullable(T)))")
          case _ => ()
        }
        CHNullable(inner)
      case "Map" =>
        val k = parse(args.head)
        // real-server rule: Map keys must be hashable scalar types —
        // Nullable / Float / composite keys are rejected at CREATE
        // ("Map cannot have a key of type ...")
        def keyOk(t: CHType): Boolean = t match {
          case CHString | CHFixedString(_) | CHUUID | CHDate | CHDate32 |
               CHDateTime(_) | CHDateTime64(_, _) | CHIPv4 | CHIPv6 |
               CHInt(_) | CHUInt(_) | CHEnum(_, _) | CHBool => true
          case CHLowCardinality(i) => keyOk(i)
          case _ => false
        }
        if (!keyOk(k))
          throw ParseException(
            s"Map cannot have a key of type ${args.head.trim} (real-server rule: " +
              "keys must be string/integer/date/uuid/enum, never Nullable or Float)")
        CHMap(k, parse(args(1)))
      case "Array" => CHArray(parse(args.head))
      case "IPv4" => CHIPv4
      case "IPv6" => CHIPv6
      case "Tuple" =>
        if (args.isEmpty) throw ParseException(s"Tuple needs elements: $s")
        val elems = args.map(parseTupleElem)
        val named = elems.count(_._1.isDefined)
        if (named != 0 && named != elems.length)
          throw ParseException(s"Tuple mixes named and unnamed elements: $s")
        CHTuple(elems)
      case "Nested" =>
        // Nested(a T, b U) IS Array(Tuple(a T, b U)) when flatten_nested=0
        // — the only shape insertable as one column; with the server
        // default flatten_nested=1 the table exposes per-field `n.a
        // Array(T)` columns instead, which map as plain Array columns and
        // need no type of their own
        if (args.isEmpty) throw ParseException(s"Nested needs elements: $s")
        val elems = args.map(parseTupleElem)
        if (!elems.forall(_._1.isDefined))
          throw ParseException(s"Nested elements must be named: $s")
        CHArray(CHTuple(elems))
      case other => throw ParseException(s"unsupported ClickHouse type: $other")
    }
  }

  /** One `Tuple`/`Nested` element: either a bare type (`UInt32`) or a
    * named one (`id UInt32`, `` `odd name` String ``). Try the bare-type
    * read first — every type name would also lex as an identifier, so the
    * presence of a leading NAME is decided by whether the whole text
    * parses as a type. */
  private val namedElem =
    """^(?:`((?:[^`]|``)+)`|([\p{L}_][\p{L}\p{N}_]*))\s+(\S.*)$""".r

  private def parseTupleElem(arg: String): (Option[String], CHType) = {
    val a = arg.trim
    try (None, parse(a))
    catch {
      case _: ParseException => a match {
        case namedElem(bq, bare, rest) =>
          val name = if (bq != null) bq.replace("``", "`") else bare
          (Some(name), parse(rest))
        case _ => throw ParseException(s"malformed tuple element: $arg")
      }
    }
  }

  /** Canonical ClickHouse type text for `t` — the inverse of [[parse]]
    * (modulo whitespace). Used for the type strings a Native-format block
    * header declares per column. */
  def render(t: CHType): String = t match {
    case CHString => "String"
    case CHFixedString(n) => s"FixedString($n)"
    case CHBool => "Bool"
    case CHInt(b) => s"Int$b"
    case CHUInt(b) => s"UInt$b"
    case CHFloat32 => "Float32"
    case CHFloat64 => "Float64"
    case CHDecimal(p, s) => s"Decimal($p, $s)"
    case CHDate => "Date"
    case CHDate32 => "Date32"
    case CHUUID => "UUID"
    case CHDateTime(tz) => tz.fold("DateTime")(z => s"DateTime('$z')")
    case CHDateTime64(p, tz) =>
      tz.fold(s"DateTime64($p)")(z => s"DateTime64($p, '$z')")
    case CHEnum(bits, values) =>
      values.toSeq.sortBy(_._2).map { case (k, v) =>
        s"'${k.replace("\\", "\\\\").replace("'", "\\'")}' = $v"
      }.mkString(s"Enum$bits(", ", ", ")")
    case CHLowCardinality(i) => s"LowCardinality(${render(i)})"
    case CHNullable(i) => s"Nullable(${render(i)})"
    case CHMap(k, v) => s"Map(${render(k)}, ${render(v)})"
    case CHArray(i) => s"Array(${render(i)})"
    case CHIPv4 => "IPv4"
    case CHIPv6 => "IPv6"
    case CHTuple(elems) =>
      elems.map {
        case (None, t) => render(t)
        case (Some(n), t) =>
          val id = if (n.matches("""[\p{L}_][\p{L}\p{N}_]*""")) n
            else s"`${n.replace("`", "``")}`"
          s"$id ${render(t)}"
      }.mkString("Tuple(", ", ", ")")
  }

  def isSupported(s: String): Boolean =
    try { !containsNullable(parse(s)) } catch { case _: Exception => false }

  /** The reference's API validation (clickhouse_validate.go) rejects
    * Nullable even though the sink tolerates it for absent values. */
  private def containsNullable(t: CHType): Boolean = t match {
    case CHNullable(_) => true
    case CHLowCardinality(i) => containsNullable(i)
    case CHArray(i) => containsNullable(i)
    case CHMap(k, v) => containsNullable(k) || containsNullable(v)
    case CHTuple(elems) => elems.exists(e => containsNullable(e._2))
    case _ => false
  }

  /** Split top-level comma-separated type arguments (commas inside nested
    * parens or quotes don't split; a backslash inside a quoted literal
    * escapes the next char — `Enum8('a\'b' = 1)` is one argument). */
  private def splitArgs(s: String): Seq[String] = {
    if (s.trim.isEmpty) return Seq.empty
    val out = Seq.newBuilder[String]
    var depth = 0
    var inQuote = false
    var escaped = false
    val cur = new StringBuilder
    s.foreach { c =>
      if (escaped) { escaped = false; cur += c }
      else c match {
        case '\\' if inQuote => escaped = true; cur += '\\'
        case '\'' => inQuote = !inQuote; cur += '\''
        case '(' if !inQuote => depth += 1; cur += '('
        case ')' if !inQuote => depth -= 1; cur += ')'
        case ',' if depth == 0 && !inQuote => out += cur.toString.trim; cur.clear()
        case other => cur += other
      }
    }
    if (cur.nonEmpty) out += cur.toString.trim
    out.result()
  }

  private def stripQuotes(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && t.head == '\'' && t.last == '\'')
      unescape(t.substring(1, t.length - 1))
    else t
  }

  /** Undo CH string-literal escapes: `\'` → `'`, `\\` → `\`. */
  private def unescape(s: String): String = {
    if (!s.contains('\\')) return s
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s(i) == '\\' && i + 1 < s.length) { b += s(i + 1); i += 2 }
      else { b += s(i); i += 1 }
    }
    b.toString
  }
}
