package graft.sql

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.types._

/** Final misc tail of the reference registry: UTF8/CaseInsensitive alias
  * matrix (delegating to the base trees), the multiSearch* matrix,
  * special-function math via commons-math3 (ships with Spark), MySQL-style
  * formatDateTime/parseDateTime translation, best-effort timestamp
  * parsing, 64-bit unix-timestamp codecs, MAC/IPv4 codecs, XML/HTML
  * codecs, formatReadable* rendering, decimal arithmetic with explicit
  * scale, and map-sort.
  *
  * Reference: src/Functions/FunctionsStringSimilarity.cpp,
  * MultiSearchAllPositions.h, formatDateTime.cpp, parseDateTimeBestEffort
  * .cpp, FunctionsCodingIP.cpp, formatReadable.h. */
object ChRegistryMisc {

  private val nameSeq = new AtomicInteger(0)

  private def lv(): UnresolvedNamedLambdaVariable =
    UnresolvedNamedLambdaVariable(Seq("ch_ms_" + nameSeq.incrementAndGet()))

  private def lam1(f: Expression => Expression): LambdaFunction = {
    val x = lv(); LambdaFunction(f(x), Seq(x))
  }

  private def at(arr: Expression, i: Expression): Expression =
    ElementAt(arr, i, None, failOnError = false)

  private def asLong(e: Expression): Expression = Cast(e, LongType)
  private def asInt(e: Expression): Expression = Cast(e, IntegerType)
  private def asDouble(e: Expression): Expression = Cast(e, DoubleType)

  private def delegate(name: String): Seq[Expression] => Expression =
    ChRegistryExt.builders(name)

  private def delegateLower(name: String): Seq[Expression] => Expression =
    args => ChRegistryExt.builders(name)(args.map(a => Lower(a)))

  // ---- MySQL-style % format translation (formatDateTime.cpp) ----------

  private val mysqlSpec: Map[Char, String] = Map(
    'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'c' -> "M", 'd' -> "dd",
    'e' -> "d", 'H' -> "HH", 'k' -> "H", 'I' -> "hh", 'l' -> "h",
    'i' -> "mm", 's' -> "ss", 'S' -> "ss", 'f' -> "SSSSSS", 'p' -> "a",
    'M' -> "MMMM", 'b' -> "MMM", 'a' -> "EEE", 'W' -> "EEEE",
    'j' -> "DDD", 'F' -> "yyyy-MM-dd", 'D' -> "MM/dd/yy",
    'T' -> "HH:mm:ss", 'R' -> "HH:mm", 'Q' -> "QQ", 'g' -> "yy",
    'G' -> "yyyy", 'n' -> "\n", 't' -> "\t", '%' -> "%")

  /** Translate a literal MySQL-style format to a java.time pattern,
    * single-quoting literal text so pattern letters can't leak. */
  def mysqlToJava(fmt: String): String = {
    val out = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) {
      val text = lit.toString
      if (text.exists(c => Character.isLetter(c) || c == '\''))
        out.append("'").append(text.replace("'", "''")).append("'")
      else out.append(text)
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        val spec = fmt.charAt(i + 1)
        mysqlSpec.get(spec) match {
          case Some("%") => lit.append('%'); i += 2
          case Some(p) => flush(); out.append(p); i += 2
          case None => lit.append(c); i += 1
        }
      } else { lit.append(c); i += 1 }
    }
    flush()
    out.toString
  }

  private def fmtArg(e: Expression): String = e match {
    case Literal(s, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"expected a literal format string, got $other")
  }

  private def parseWith(str: Expression, javaFmt: Expression,
      strict: Boolean): Expression =
    SecondsToTimestamp(new UnixTimestamp(str, javaFmt, None, strict))

  /** Coalesce of common layouts (parseDateTimeBestEffort.cpp spirit). */
  private def bestEffort(s: Expression): Expression = {
    val fmts = Seq("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss",
      "yyyy/MM/dd HH:mm:ss", "dd/MM/yyyy HH:mm:ss", "dd.MM.yyyy HH:mm:ss",
      "yyyyMMddHHmmss", "yyyy-MM-dd", "yyyy/MM/dd", "dd/MM/yyyy",
      "dd.MM.yyyy", "yyyyMMdd")
    Coalesce(
      Cast(s, TimestampType, None, EvalMode.TRY) +:
        fmts.map(f => parseWith(s, Literal(f), strict = false)))
  }

  // ---- readable renderings (formatReadable.h) -------------------------

  private def noThousands(e: Expression): Expression =
    StringReplace(e, Literal(","), Literal(""))

  private def readableScaled(v: Expression,
      units: Seq[(Double, String)], base: String): Expression = {
    val d = asDouble(v)
    val branches = units.map { case (scale, unit) =>
      (GreaterThanOrEqual(Abs(d), Literal(scale)),
        Concat(Seq(noThousands(FormatNumber(Divide(d, Literal(scale)), Literal(2))),
          Literal(" " + unit))): Expression)
    }
    CaseWhen(branches,
      Some(Concat(Seq(noThousands(FormatNumber(d, Literal(2))),
        Literal(if (base.isEmpty) "" else " " + base)))))
  }

  private def plural(n: Expression, word: String): Expression =
    Concat(Seq(Cast(n, StringType), Literal(" " + word),
      If(EqualTo(n, Literal(1L)), Literal(""), Literal("s"))))

  // ---- commons-math3 specials (erf.cpp … lgamma via libm) -------------

  private def m3(cls: Class[_], fn: String)(e: Expression): Expression =
    StaticInvoke(cls, DoubleType, fn, Seq(asDouble(e)), Seq(DoubleType))

  private val erfCls = classOf[org.apache.commons.math3.special.Erf]
  private val gammaCls = classOf[org.apache.commons.math3.special.Gamma]

  // ---- IPv4 codecs (FunctionsCodingIP.cpp) ----------------------------

  private def ipv4ToNum(s: Expression): Expression = {
    val parts = StringSplit(s, Literal("\\."), Literal(-1))
    def oct(i: Int): Expression = Cast(at(parts, Literal(i)), LongType)
    Add(Multiply(oct(1), Literal(16777216L)),
      Add(Multiply(oct(2), Literal(65536L)),
        Add(Multiply(oct(3), Literal(256L)), oct(4))))
  }

  private def ipv4ToString(n: Expression): Expression = {
    val v = asLong(n)
    def oct(shift: Int): Expression =
      Cast(BitwiseAnd(ShiftRightUnsigned(v, Literal(shift)), Literal(255L)), StringType)
    ConcatWs(Seq(Literal("."), oct(24), oct(16), oct(8), oct(0)))
  }

  private def macHex(n: Expression): Expression =
    Lower(StringLPad(Hex(asLong(n)), Literal(12), Literal("0")))

  /** JSONExtract path from variadic key/index args: string keys → `.key`,
    * 1-based integer indices → `[i-1]` (FunctionsJSON.cpp indexing). */
  private def jsonPathOf(keys: Seq[Expression]): Expression =
    Concat(Literal("$") +: keys.map {
      case Literal(i: Int, IntegerType) => Literal(s"[${i - 1}]"): Expression
      case k => Concat(Seq(Literal("."), Cast(k, StringType))): Expression
    })

  val builders: Map[String, Seq[Expression] => Expression] = Map(
    // ---- UTF8 / case-insensitive alias matrix ----
    "positioncaseinsensitiveutf8" -> delegate("positioncaseinsensitive"),
    "countsubstringsutf8" -> delegate("countsubstrings"),
    "countsubstringscaseinsensitiveutf8" -> delegate("countsubstringscaseinsensitive"),
    "countmatchescaseinsensitive" -> (args =>
      RegExpCount(Lower(args(0)), Lower(args(1)))),
    "levenshteindistanceutf8" -> (args => Levenshtein(args(0), args(1))),
    "initcaputf8" -> (args => InitCap(args.head)),
    "mismatches" -> delegate("bytehammingdistance"),
    "ngramdistanceutf8" -> delegate("ngramdistance"),
    "ngramdistancecaseinsensitive" -> delegateLower("ngramdistance"),
    "ngramdistancecaseinsensitiveutf8" -> delegateLower("ngramdistance"),
    "ngramsearchutf8" -> delegate("ngramsearch"),
    "ngramsearchcaseinsensitive" -> delegateLower("ngramsearch"),
    "ngramsearchcaseinsensitiveutf8" -> delegateLower("ngramsearch"),
    "hastokenornull" -> delegate("hastoken"),
    "hastokencaseinsensitiveornull" -> delegate("hastokencaseinsensitive"),
    "isvalidutf8" -> (_ => Literal(true)), // Spark strings are validated on read
    "tovalidutf8" -> (args => args.head),
    "mid" -> (args => Substring(args(0), args(1), args(2))),
    "notlike" -> (args => Not(Like(args(0), args(1), '\\'))),
    "notilike" -> (args => Not(Like(Lower(args(0)), Lower(args(1)), '\\'))),
    "countdigits" -> (args =>
      Length(Cast(Abs(asLong(args.head)), StringType))),

    // ---- multiSearch matrix (MultiSearchAllPositions.h et al.) ----
    "multisearchallpositions" -> (args =>
      ArrayTransform(args(1),
        lam1(n => Cast(StringLocate(n, args(0), Literal(1)), LongType)))),
    "multisearchallpositionscaseinsensitive" -> (args =>
      ArrayTransform(args(1),
        lam1(n => Cast(StringLocate(Lower(n), Lower(args(0)), Literal(1)), LongType)))),
    "multisearchallpositionsutf8" -> (args =>
      ArrayTransform(args(1),
        lam1(n => Cast(StringLocate(n, args(0), Literal(1)), LongType)))),
    "multisearchfirstindex" -> (args =>
      ArrayPosition(ArrayTransform(args(1), lam1(n => Contains(args(0), n))),
        Literal(true))),
    "multisearchfirstposition" -> (args => {
      val ps = ArrayFilter(
        ArrayTransform(args(1),
          lam1(n => Cast(StringLocate(n, args(0), Literal(1)), LongType))),
        lam1(p => GreaterThan(p, Literal(0L))))
      Coalesce(Seq(ArrayMin(ps), Literal(0L)))
    }),
    // Case-insensitive multiSearchAny: literal needle sets >= 4 lowercase
    // both sides and run the same single-pass Aho-Corasick automaton.
    "multisearchanycaseinsensitive" -> (args => args(1) match {
      case CreateArray(items, _)
          if items.size >= 4 && items.forall {
            case Literal(s, StringType) => s != null
            case _ => false
          } =>
        org.apache.spark.sql.graft.MultiSearchAnyAC(Lower(args(0)),
          items.map { case Literal(s, StringType) => s.toString.toLowerCase })
      case _ =>
        ArrayExists(ArrayTransform(args(1), lam1(n => Contains(Lower(args(0)), Lower(n)))),
          LambdaFunction.identity)
    }),
    "multisearchanyutf8" -> (args =>
      ArrayExists(ArrayTransform(args(1), lam1(n => Contains(args(0), n))),
        LambdaFunction.identity)),
    "multimatchanyindex" -> (args =>
      ArrayPosition(ArrayTransform(args(1), lam1(p => RLike(args(0), p))),
        Literal(true))),
    "multimatchallindices" -> (args =>
      ArrayFilter(
        Sequence(Literal(1), Size(args(1)), Some(Literal(1))),
        lam1(i => RLike(args(0), at(args(1), i))))),

    // ---- regex extraction (extractAll.cpp, extractGroups.cpp) ----
    "extractall" -> (args => {
      val group = args(1) match {
        case Literal(s, StringType) if s.toString.contains("(") => 1
        case _ => 0
      }
      RegExpExtractAll(args(0), args(1), Literal(group))
    }),

    // ---- special math via commons-math3 (ships with Spark) ----
    "erf" -> (args => m3(erfCls, "erf")(args.head)),
    "erfc" -> (args => m3(erfCls, "erfc")(args.head)),
    "lgamma" -> (args => m3(gammaCls, "logGamma")(args.head)),
    "tgamma" -> (args => m3(gammaCls, "gamma")(args.head)),
    "byteswap" -> (args =>
      StaticInvoke(classOf[java.lang.Long], LongType, "reverseBytes",
        Seq(asLong(args.head)), Seq(LongType))),
    "inf" -> (_ => Literal(Double.PositiveInfinity)),
    "nan" -> (_ => Literal(Double.NaN)),
    "intdivornull" -> (args =>
      If(EqualTo(asLong(args(1)), Literal(0L)),
        Literal.create(null, LongType), IntegralDivide(args(0), args(1)))),
    "modornull" -> (args => ChRegistryExt.builders("moduloornull")(args)),
    "modulolegacy" -> (args => Remainder(args(0), args(1))),
    "dividedecimal" -> (args => {
      val scale = args.lift(2) match {
        case Some(Literal(i: Int, _)) => i
        case _ => 10
      }
      Cast(Divide(Cast(args(0), DecimalType(38, 18)),
        Cast(args(1), DecimalType(38, 18))), DecimalType(38, scale))
    }),
    "multiplydecimal" -> (args => {
      val scale = args.lift(2) match {
        case Some(Literal(i: Int, _)) => i
        case _ => 10
      }
      Cast(Multiply(Cast(args(0), DecimalType(19, 9)),
        Cast(args(1), DecimalType(19, 9))), DecimalType(38, scale))
    }),

    // ---- formatDateTime / parseDateTime (MySQL-style, translated) ----
    "formatdatetime" -> (args =>
      DateFormatClass(args(0), Literal(mysqlToJava(fmtArg(args(1)))))),
    "formatdatetimeinjodasyntax" -> (args => DateFormatClass(args(0), args(1))),
    "parsedatetime" -> (args =>
      parseWith(args(0), Literal(mysqlToJava(fmtArg(args(1)))), strict = true)),
    "parsedatetimeornull" -> (args =>
      parseWith(args(0), Literal(mysqlToJava(fmtArg(args(1)))), strict = false)),
    "parsedatetimeorzero" -> (args =>
      Coalesce(Seq(
        parseWith(args(0), Literal(mysqlToJava(fmtArg(args(1)))), strict = false),
        Cast(Literal("1970-01-01 00:00:00"), TimestampType)))),
    "parsedatetimeinjodasyntax" -> (args =>
      parseWith(args(0), args(1), strict = true)),
    "parsedatetimeinjodasyntaxornull" -> (args =>
      parseWith(args(0), args(1), strict = false)),
    "parsedatetimeinjodasyntaxorzero" -> (args =>
      Coalesce(Seq(parseWith(args(0), args(1), strict = false),
        Cast(Literal("1970-01-01 00:00:00"), TimestampType)))),
    "parsedatetimebesteffort" -> (args => bestEffort(args.head)),
    "parsedatetimebesteffortornull" -> (args => bestEffort(args.head)),
    "parsedatetimebesteffortorzero" -> (args =>
      Coalesce(Seq(bestEffort(args.head),
        Cast(Literal("1970-01-01 00:00:00"), TimestampType)))),
    "parsedatetime32besteffort" -> (args => bestEffort(args.head)),
    "makedate" -> (args => MakeDate(args(0), args(1), args(2))),
    "makedate32" -> (args => MakeDate(args(0), args(1), args(2))),
    "makedatetime" -> (args =>
      MakeTimestamp(args(0), args(1), args(2), args(3), args(4),
        Cast(args(5), DecimalType(16, 6)))),
    "makedatetime64" -> (args =>
      MakeTimestamp(args(0), args(1), args(2), args(3), args(4),
        Cast(args(5), DecimalType(16, 6)))),
    "week" -> (args => WeekOfYear(args.head)), // ISO week (mode-3 flavor)
    "millisecond" -> (args =>
      Cast(DateFormatClass(args.head, Literal("SSS")), IntegerType)),
    "datetrunc" -> (args => TruncTimestamp(args(0), args(1))),
    // timestampdiff NOT registered: Spark's parser owns that name
    // (special unquoted-unit syntax, already CH-compatible in spirit);
    // the quoted-unit reference form rides timestamp_diff below.
    "timestamp_diff" -> (args => args(0) match {
      case Literal(u, StringType) =>
        TimestampDiff(u.toString.toUpperCase, args(1), args(2))
      case _ => throw new IllegalArgumentException(
        "timestamp_diff expects a literal unit")
    }),
    "to_days" -> (args => ChRegistryUrlDate.builders("todayssinceyearzero")(args)),
    "from_days" -> (args => ChRegistryUrlDate.builders("fromdayssinceyearzero")(args)),
    "to_unixtime" -> (args => UnixSeconds(Cast(args.head, TimestampType))),
    "now64" -> (_ => CurrentTimestamp()),
    "fromunixtimestamp64second" -> (args => SecondsToTimestamp(args.head)),
    "fromunixtimestamp64milli" -> (args => MillisToTimestamp(args.head)),
    "fromunixtimestamp64micro" -> (args => MicrosToTimestamp(args.head)),
    "fromunixtimestamp64nano" -> (args =>
      MicrosToTimestamp(IntegralDivide(args.head, Literal(1000L)))),
    "tounixtimestamp64second" -> (args => UnixSeconds(Cast(args.head, TimestampType))),
    "tounixtimestamp64milli" -> (args => UnixMillis(Cast(args.head, TimestampType))),
    "tounixtimestamp64micro" -> (args => UnixMicros(Cast(args.head, TimestampType))),
    "tounixtimestamp64nano" -> (args =>
      Multiply(UnixMicros(Cast(args.head, TimestampType)), Literal(1000L))),

    // ---- MAC / IPv4 codecs ----
    "macnumtostring" -> (args => {
      val h = macHex(args.head)
      ConcatWs(Seq(Literal(":"),
        Substring(h, Literal(1), Literal(2)), Substring(h, Literal(3), Literal(2)),
        Substring(h, Literal(5), Literal(2)), Substring(h, Literal(7), Literal(2)),
        Substring(h, Literal(9), Literal(2)), Substring(h, Literal(11), Literal(2))))
    }),
    "macstringtonum" -> (args =>
      Cast(Conv(RegExpReplace(args.head, Literal("[:-]"), Literal("")),
        Literal(16), Literal(10)), LongType)),
    "macstringtooui" -> (args =>
      Cast(Conv(Substring(RegExpReplace(args.head, Literal("[:-]"), Literal("")),
        Literal(1), Literal(6)), Literal(16), Literal(10)), LongType)),
    "ipv4numtostring" -> (args => ipv4ToString(args.head)),
    "ipv4stringtonum" -> (args => ipv4ToNum(args.head)),
    "ipv4numtostringclassc" -> (args => {
      val v = asLong(args.head)
      def oct(shift: Int): Expression =
        Cast(BitwiseAnd(ShiftRightUnsigned(v, Literal(shift)), Literal(255L)), StringType)
      ConcatWs(Seq(Literal("."), oct(24), oct(16), oct(8), Literal("xxx")))
    }),
    "ipv4toipv6" -> (args =>
      Concat(Seq(Literal("::ffff:"), ipv4ToString(args.head)))),
    "inet_aton" -> (args => ipv4ToNum(args.head)),
    "inet_ntoa" -> (args => ipv4ToString(args.head)),
    "inet6_aton" -> (args => CodecExpressions.ipv6StringToNum(args.head)),
    "inet6_ntoa" -> (args => CodecExpressions.ipv6NumToString(args.head)),
    "uuidtonum" -> (args => CodecExpressions.uuidStringToNum(args.head)),
    "isipv4string" -> (args => RLike(args.head,
      Literal("^((25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])$"))),
    // full structural validation (the loose `{2,7}` prefix form accepted
    // '1:2:3' and ':::::'): exactly 8 groups, or a single '::' gap with
    // 1..7 groups total, or the v4-mapped/embedded tail forms.
    "isipv6string" -> (args => RLike(args.head, Literal({
      val g = "[0-9A-Fa-f]{1,4}"
      val v4 = "((25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])"
      "^(" +
        s"($g:){7}$g" +
        s"|($g:){1,7}:" +
        s"|($g:){1,6}:$g" +
        s"|($g:){1,5}(:$g){1,2}" +
        s"|($g:){1,4}(:$g){1,3}" +
        s"|($g:){1,3}(:$g){1,4}" +
        s"|($g:){1,2}(:$g){1,5}" +
        s"|$g:(:$g){1,6}" +
        s"|:((:$g){1,7}|:)" +
        s"|::(ffff(:0{1,4})?:)?$v4" +
        s"|($g:){1,4}:$v4" +
        ")$"
    }))),

    // ---- XML / HTML codecs ----
    "encodexmlcomponent" -> (args =>
      StringReplace(StringReplace(StringReplace(StringReplace(
        StringReplace(args.head,
          Literal("&"), Literal("&amp;")),
        Literal("<"), Literal("&lt;")),
        Literal(">"), Literal("&gt;")),
        Literal("\""), Literal("&quot;")),
        Literal("'"), Literal("&#39;"))),
    "decodexmlcomponent" -> (args =>
      StringReplace(StringReplace(StringReplace(StringReplace(StringReplace(
        StringReplace(args.head,
          Literal("&lt;"), Literal("<")),
        Literal("&gt;"), Literal(">")),
        Literal("&quot;"), Literal("\"")),
        Literal("&#39;"), Literal("'")),
        Literal("&apos;"), Literal("'")),
        Literal("&amp;"), Literal("&"))),
    "decodehtmlcomponent" -> (args =>
      StringReplace(StringReplace(StringReplace(StringReplace(StringReplace(
        StringReplace(args.head,
          Literal("&lt;"), Literal("<")),
        Literal("&gt;"), Literal(">")),
        Literal("&quot;"), Literal("\"")),
        Literal("&#39;"), Literal("'")),
        Literal("&nbsp;"), Literal(" ")),
        Literal("&amp;"), Literal("&"))),
    "extracttextfromhtml" -> (args =>
      StringTrim(RegExpReplace(RegExpReplace(RegExpReplace(args.head,
        Literal("(?is)<(script|style)[^>]*>.*?</\\1>"), Literal(" ")),
        Literal("<[^>]*>"), Literal(" ")),
        Literal("\\s+"), Literal(" ")))),
    "cuturlparameter" -> (args => {
      val qm = RegExpReplace(args(1),
        Literal("([\\\\^$.|?*+()\\[\\]{}])"), Literal("\\\\$1"))
      RegExpReplace(
        RegExpReplace(args(0),
          Concat(Seq(Literal("([?&])"), qm, Literal("=[^&#]*&"))), Literal("$1")),
        Concat(Seq(Literal("[?&]"), qm, Literal("=[^&#]*"))), Literal(""))
    }),

    // ---- readable renderings ----
    "formatreadablesize" -> (args => readableScaled(args.head, Seq(
      math.pow(1024, 6) -> "EiB", math.pow(1024, 5) -> "PiB",
      math.pow(1024, 4) -> "TiB", math.pow(1024, 3) -> "GiB",
      math.pow(1024, 2) -> "MiB", 1024.0 -> "KiB"), "B")),
    "format_bytes" -> (args => readableScaled(args.head, Seq(
      math.pow(1024, 6) -> "EiB", math.pow(1024, 5) -> "PiB",
      math.pow(1024, 4) -> "TiB", math.pow(1024, 3) -> "GiB",
      math.pow(1024, 2) -> "MiB", 1024.0 -> "KiB"), "B")),
    "formatreadabledecimalsize" -> (args => readableScaled(args.head, Seq(
      1e18 -> "EB", 1e15 -> "PB", 1e12 -> "TB", 1e9 -> "GB",
      1e6 -> "MB", 1e3 -> "KB"), "B")),
    "formatreadablequantity" -> (args => readableScaled(args.head, Seq(
      1e12 -> "trillion", 1e9 -> "billion", 1e6 -> "million",
      1e3 -> "thousand"), "")),
    "formatreadabletimedelta" -> (args => {
      val s = asLong(args.head)
      val d = IntegralDivide(s, Literal(86400L))
      val h = IntegralDivide(Pmod(s, Literal(86400L)), Literal(3600L))
      val m = IntegralDivide(Pmod(s, Literal(3600L)), Literal(60L))
      val sec = Pmod(s, Literal(60L))
      val parts = CreateArray(Seq(
        If(GreaterThan(d, Literal(0L)), plural(d, "day"),
          Literal.create(null, StringType)),
        If(GreaterThan(h, Literal(0L)), plural(h, "hour"),
          Literal.create(null, StringType)),
        If(GreaterThan(m, Literal(0L)), plural(m, "minute"),
          Literal.create(null, StringType)),
        If(Or(GreaterThan(sec, Literal(0L)), EqualTo(s, Literal(0L))),
          plural(sec, "second"), Literal.create(null, StringType))))
      ArrayJoin(ArrayFilter(parts, lam1(p => IsNotNull(p))), Literal(", "), None)
    }),
    // format('{} {}', ...) / format('{0} {1}', ...) (format.cpp)
    "format" -> (args => {
      val fmt = fmtArg(args.head)
      val positional = "\\{(\\d+)\\}".r
      val translated =
        if (positional.findFirstIn(fmt).isDefined)
          positional.replaceAllIn(fmt.replace("%", "%%"),
            m => "%" + (m.group(1).toInt + 1) + "\\$s")
        else fmt.replace("%", "%%").replace("{}", "%s")
      FormatString(Literal(translated) +: args.tail: _*)
    }),

    // ---- map sort (mapSort via entry sort) ----
    "mapsort" -> (args =>
      MapFromEntries(SortArray(MapEntries(args.head), Literal(true)))),
    "mapreversesort" -> (args =>
      MapFromEntries(SortArray(MapEntries(args.head), Literal(false)))),

    // ---- IDN / punycode / Unicode normalization via StringBridge ----
    "idnaencode" -> (args => bridge("idnaEncode", args.head)),
    "idnadecode" -> (args => bridge("idnaDecode", args.head)),
    "tryidnaencode" -> (args => bridge("tryIdnaEncode", args.head)),
    "punycodeencode" -> (args => bridge("punycodeEncode", args.head)),
    "punycodedecode" -> (args => bridge("punycodeDecode", args.head)),
    "trypunycodedecode" -> (args => bridge("tryPunycodeDecode", args.head)),
    "normalizeutf8nfc" -> (args => bridge("nfc", args.head)),
    "normalizeutf8nfd" -> (args => bridge("nfd", args.head)),
    "normalizeutf8nfkc" -> (args => bridge("nfkc", args.head)),
    "normalizeutf8nfkd" -> (args => bridge("nfkd", args.head)),

    // ---- JSONExtract family (FunctionsJSON.cpp): variadic key/index
    // path navigation; 1-based array indices; missing → type default ----
    "jsonextractstring" -> (args =>
      Coalesce(Seq(GetJsonObject(args.head, jsonPathOf(args.tail)), Literal("")))),
    "jsonextractraw" -> (args =>
      Coalesce(Seq(GetJsonObject(args.head, jsonPathOf(args.tail)), Literal("")))),
    "jsonextractint" -> (args =>
      Coalesce(Seq(Cast(GetJsonObject(args.head, jsonPathOf(args.tail)),
        LongType, None, EvalMode.TRY), Literal(0L)))),
    "jsonextractuint" -> (args =>
      Coalesce(Seq(Cast(GetJsonObject(args.head, jsonPathOf(args.tail)),
        LongType, None, EvalMode.TRY), Literal(0L)))),
    "jsonextractfloat" -> (args =>
      Coalesce(Seq(Cast(GetJsonObject(args.head, jsonPathOf(args.tail)),
        DoubleType, None, EvalMode.TRY), Literal(0.0d)))),
    "jsonextractbool" -> (args =>
      EqualNullSafe(GetJsonObject(args.head, jsonPathOf(args.tail)),
        Literal("true"))),
    "jsonhas" -> (args =>
      IsNotNull(GetJsonObject(args.head, jsonPathOf(args.tail)))),
    "jsonlength" -> (args => {
      val sub = if (args.length == 1) args.head
        else GetJsonObject(args.head, jsonPathOf(args.tail))
      Coalesce(Seq(LengthOfJsonArray(sub), Size(JsonObjectKeys(sub)), Literal(0)))
    }),
    "jsonextractkeys" -> (args => {
      val sub = if (args.length == 1) args.head
        else GetJsonObject(args.head, jsonPathOf(args.tail))
      JsonObjectKeys(sub)
    }),
    "jsonextractarrayraw" -> (args => {
      val sub = if (args.length == 1) args.head
        else GetJsonObject(args.head, jsonPathOf(args.tail))
      val n = LengthOfJsonArray(sub)
      val i = lv()
      If(Or(IsNull(n), LessThanOrEqual(n, Literal(0))),
        Literal.create(Array.empty[String], ArrayType(StringType)),
        ArrayTransform(
          Sequence(Literal(0), Subtract(n, Literal(1)), Some(Literal(1))),
          LambdaFunction(GetJsonObject(sub,
            Concat(Seq(Literal("$["), Cast(i, StringType), Literal("]")))),
            Seq(i))))
    }),
    "jsontype" -> (args => {
      val raw = GetJsonObject(args.head, jsonPathOf(args.tail))
      val c = Substring(raw, Literal(1), Literal(1))
      CaseWhen(Seq(
        (IsNull(raw), Literal("Null")),
        (EqualTo(c, Literal("{")), Literal("Object")),
        (EqualTo(c, Literal("[")), Literal("Array")),
        (In(raw, Seq(Literal("true"), Literal("false"))), Literal("Bool")),
        (RLike(raw, Literal("^-?[0-9]")), Literal("Double"))),
        Some(Literal("String")))
    }),

    // multimodal metadata (engine extension, no reference analog): real
    // header parsing for the binary image columns of the LLM pipeline
    "imagedimensions" -> (args =>
      Invoke(
        Literal.fromObject(org.apache.spark.sql.graft.StringBridge,
          ObjectType(org.apache.spark.sql.graft.StringBridge.getClass)),
        "imageDimensions", StringType,
        Seq(Cast(args.head, BinaryType)), Seq(BinaryType))),

    "audioinfo" -> (args =>
      Invoke(
        Literal.fromObject(org.apache.spark.sql.graft.StringBridge,
          ObjectType(org.apache.spark.sql.graft.StringBridge.getClass)),
        "audioInfo", StringType,
        Seq(Cast(args.head, BinaryType)), Seq(BinaryType))),

    // jump consistent hash (bit-compatible Lamping–Veach)
    "jumpconsistenthash" -> (args =>
      Invoke(
        Literal.fromObject(org.apache.spark.sql.graft.StringBridge,
          ObjectType(org.apache.spark.sql.graft.StringBridge.getClass)),
        "jumpConsistentHash", IntegerType,
        Seq(asLong(args(0)), asInt(args(1))), Seq(LongType, IntegerType))),
    // kostikConsistentHash (kostikConsistentHash.cpp, alias
    // yandexConsistentHash): same ring-assignment CONTRACT (stable key →
    // bucket in [0, n), minimal movement on resize) served by the jump
    // hash — a documented stand-in per the engine hash policy (the
    // reference's exact popcount-walk values are not pinned).
    "kostikconsistenthash" -> (args =>
      Invoke(
        Literal.fromObject(org.apache.spark.sql.graft.StringBridge,
          ObjectType(org.apache.spark.sql.graft.StringBridge.getClass)),
        "jumpConsistentHash", IntegerType,
        Seq(asLong(args(0)), asInt(args(1))), Seq(LongType, IntegerType))),
    "yandexconsistenthash" -> (args =>
      Invoke(
        Literal.fromObject(org.apache.spark.sql.graft.StringBridge,
          ObjectType(org.apache.spark.sql.graft.StringBridge.getClass)),
        "jumpConsistentHash", IntegerType,
        Seq(asLong(args(0)), asInt(args(1))), Seq(LongType, IntegerType))),

    // URL hierarchy (URLHierarchy.cpp): '/'-prefix chain after the
    // protocol+host, full URL as the final element when it has a tail.
    "urlhierarchy" -> (args => {
      val url = args.head
      val protoHost = RegExpExtract(url,
        Literal("^(?:[A-Za-z][A-Za-z0-9+.-]*://)?[^/?#]*"), Literal(0))
      val hostLen = Length(protoHost)
      val rest = Substring(url, Add(hostLen, Literal(1)), Length(url))
      val seps = ArrayFilter(
        If(LessThanOrEqual(Length(rest), Literal(0)),
          Literal.create(Array.empty[Int], ArrayType(IntegerType)),
          Sequence(Literal(1), Length(rest), Some(Literal(1)))),
        lam1(i => EqualTo(Substring(rest, i, Literal(1)), Literal("/"))))
      val prefixes = ArrayTransform(seps,
        lam1(i => Substring(url, Literal(1), Add(hostLen, i))))
      If(Or(LessThanOrEqual(Length(rest), Literal(0)),
          EndsWith(url, Literal("/"))),
        prefixes,
        Concat(Seq(prefixes, CreateArray(Seq(url)))))
    }),
    "urlpathhierarchy" -> (args => {
      val url = args.head
      val protoHost = RegExpExtract(url,
        Literal("^(?:[A-Za-z][A-Za-z0-9+.-]*://)?[^/?#]*"), Literal(0))
      val hostLen = Length(protoHost)
      val rest = Substring(url, Add(hostLen, Literal(1)), Length(url))
      val seps = ArrayFilter(
        If(LessThanOrEqual(Length(rest), Literal(0)),
          Literal.create(Array.empty[Int], ArrayType(IntegerType)),
          Sequence(Literal(1), Length(rest), Some(Literal(1)))),
        lam1(i => And(GreaterThan(i, Literal(1)),
          EqualTo(Substring(rest, i, Literal(1)), Literal("/")))))
      val prefixes = ArrayTransform(seps,
        lam1(i => Substring(rest, Literal(1), i)))
      If(Or(LessThanOrEqual(Length(rest), Literal(1)),
          EndsWith(rest, Literal("/"))),
        prefixes,
        Concat(Seq(prefixes, CreateArray(Seq(rest)))))
    }),

    // transform(x, [from], [to], default) under its alternate names
    // (caseWithExpression.cpp); Spark's `transform` builtin is the HOF, so
    // the reference's value-mapping form rides these registrations.
    "casewithexpression" -> (args => caseWith(args)),
    "casewithexpr" -> (args => caseWith(args))
  )

  /** Invoke a StringBridge method — stays codegen'd via addReferenceObj
    * (the UrlEncode/UrlDecode object-call shape). */
  private def bridge(method: String, arg: Expression): Expression =
    Invoke(
      Literal.fromObject(org.apache.spark.sql.graft.StringBridge,
        ObjectType(org.apache.spark.sql.graft.StringBridge.getClass)),
      method, StringType, Seq(arg), Seq(StringType))

  private def caseWith(args: Seq[Expression]): Expression = {
    val pos = ArrayPosition(args(1), args(0))
    val default = if (args.length > 3) args(3) else args(0)
    If(EqualTo(pos, Literal(0L)), default,
      ElementAt(args(2), Cast(pos, IntegerType), None, failOnError = false))
  }
}
