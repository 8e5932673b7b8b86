package graft.sql

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.types._

/** Bit-manipulation, math-tail, and type-conversion-tail names of the
  * reference registry (src/Functions/bitAnd.cpp … bitTestAll.cpp,
  * FunctionsConversion.h OrNull/OrZero/OrDefault matrices,
  * src/Functions/accurateCast… — Spark rendering: pure Catalyst trees over
  * built-in expressions; ANSI-safe (division/modulo by zero sits behind
  * lazy If guards; accurateCast maps to ANSI-mode Cast, the OrNull forms
  * to TRY-mode Cast). */
object ChRegistryExt {

  private def lv(n: String) = UnresolvedNamedLambdaVariable(Seq(n))

  private val nameSeq = new AtomicInteger(0)

  private def lam1(f: Expression => Expression): LambdaFunction = {
    val x = lv("ch_ext_" + nameSeq.incrementAndGet()); LambdaFunction(f(x), Seq(x))
  }

  private def lam2(f: (Expression, Expression) => Expression): LambdaFunction = {
    val x = lv("ch_ext_" + nameSeq.incrementAndGet())
    val y = lv("ch_ext_" + nameSeq.incrementAndGet())
    LambdaFunction(f(x, y), Seq(x, y))
  }

  private def asLong(e: Expression): Expression = Cast(e, LongType)
  private def asInt(e: Expression): Expression = Cast(e, IntegerType)
  private def asDouble(e: Expression): Expression = Cast(e, DoubleType)

  /** (x >> n) & 1 as Int (reference bitTest.cpp returns UInt8). */
  private def bitAt(x: Expression, n: Expression): Expression =
    Cast(BitwiseAnd(ShiftRightUnsigned(asLong(x), asInt(n)), Literal(1L)), IntegerType)

  /** Ascending positions (0-based) of set bits in the low 64. */
  private def bitPositions(x: Expression): Expression = {
    val i = lv("ch_bit_i")
    ArrayFilter(
      Sequence(Literal(0L), Literal(63L), Some(Literal(1L))),
      LambdaFunction(EqualTo(bitAt(x, i), Literal(1)), Seq(i)))
  }

  private def isFiniteD(x: Expression): Expression = {
    val d = asDouble(x)
    And(Not(IsNaN(d)), LessThan(Abs(d), Literal(Double.PositiveInfinity)))
  }

  /** Reference type-name → Spark carrier type (same mapping the toX cast
    * family in ChFunctionRegistry uses; UInt64 keeps the widening
    * DECIMAL(20,0) carrier). */
  private def chTypeName(n0: String): DataType = {
    // unwrap Nullable(T) / LowCardinality(T) wrappers (type sugar in the
    // reference's type system; Spark columns are nullable by default)
    val wrapper = "(?i)^(nullable|lowcardinality)\\((.*)\\)$".r
    val n = n0.trim match {
      case wrapper(_, inner) => return chTypeName(inner)
      case other => other
    }
    n.toLowerCase match {
    case "int8" => ByteType
    case "int16" => ShortType
    case "int32" => IntegerType
    case "int64" => LongType
    case "uint8" => ShortType
    case "uint16" => IntegerType
    case "uint32" => LongType
    case "uint64" => DecimalType(20, 0)
    case "float32" => FloatType
    case "float64" | "double" => DoubleType
    case "string" => StringType
    case "date" | "date32" => DateType
    case "datetime" | "datetime64" => TimestampType
    case "bool" | "boolean" => BooleanType
    case other =>
      throw new IllegalArgumentException(s"accurateCast: unsupported type '$other'")
    }
  }

  private def typeArg(e: Expression): DataType = e match {
    case Literal(s, StringType) => chTypeName(s.toString)
    case other =>
      throw new IllegalArgumentException(
        s"accurateCast expects a literal type name, got $other")
  }

  /** UIntN parse with range validation: out-of-range is a parse failure
    * (NULL), like the reference's toUIntNOrNull — NOT the wrapping
    * arithmetic cast of toUIntN. */
  private def uintTry(max: Long, carrier: DataType)(arg: Expression): Expression = {
    val l = Cast(arg, LongType, None, EvalMode.TRY)
    CaseWhen(
      Seq((And(GreaterThanOrEqual(l, Literal(0L)), LessThanOrEqual(l, Literal(max))),
        Cast(l, carrier))),
      Some(Literal.create(null, carrier)))
  }

  /** toXOrNull / toXOrZero matrix, generated (FunctionsConversion.h). */
  private val orNullZero: Map[String, Seq[Expression] => Expression] = {
    val carriers: Seq[(String, DataType, Expression)] = Seq(
      ("int8", ByteType, Literal(0)),
      ("int16", ShortType, Literal(0)),
      ("int32", IntegerType, Literal(0)),
      ("int64", LongType, Literal(0L)),
      ("float32", FloatType, Literal(0.0f)),
      ("date", DateType, Cast(Literal("1970-01-01"), DateType)),
      ("date32", DateType, Cast(Literal("1970-01-01"), DateType)),
      ("datetime", TimestampType,
        Cast(Literal("1970-01-01 00:00:00"), TimestampType)),
      ("datetime64", TimestampType,
        Cast(Literal("1970-01-01 00:00:00"), TimestampType)),
      ("float64", DoubleType, Literal(0.0d)))
    val signed = carriers.flatMap { case (n, dt, zero) =>
      Seq(
        s"to${n}ornull" -> ((args: Seq[Expression]) =>
          Cast(args.head, dt, None, EvalMode.TRY): Expression),
        s"to${n}orzero" -> ((args: Seq[Expression]) =>
          Coalesce(Seq(Cast(args.head, dt, None, EvalMode.TRY), zero)): Expression),
        s"to${n}ordefault" -> ((args: Seq[Expression]) =>
          Coalesce(Seq(Cast(args.head, dt, None, EvalMode.TRY),
            if (args.length > 1) args(1) else zero)): Expression))
    }
    val unsigned = Seq(
      ("uint8", 255L, ShortType),
      ("uint16", 65535L, IntegerType),
      ("uint32", 4294967295L, LongType)).flatMap { case (n, max, dt) =>
      Seq(
        s"to${n}ornull" -> ((args: Seq[Expression]) =>
          uintTry(max, dt)(args.head): Expression),
        s"to${n}orzero" -> ((args: Seq[Expression]) =>
          Coalesce(Seq(uintTry(max, dt)(args.head), Cast(Literal(0), dt))): Expression),
        s"to${n}ordefault" -> ((args: Seq[Expression]) =>
          Coalesce(Seq(uintTry(max, dt)(args.head),
            if (args.length > 1) args(1) else Cast(Literal(0), dt))): Expression))
    }
    // UInt64 carrier is DECIMAL(20,0), which also holds values in
    // [2^64, 10^20) and negatives — so the TRY cast alone would silently
    // accept out-of-UInt64-range input. Guard the actual [0, 2^64-1]
    // domain explicitly (round-3 verdict #10: overflow must be loud).
    def u64Try(arg: Expression): Expression = {
      val d = Cast(arg, DecimalType(20, 0), None, EvalMode.TRY)
      val zero = Literal(Decimal(BigDecimal(0), 20, 0), DecimalType(20, 0))
      val max = Literal(
        Decimal(BigDecimal("18446744073709551615"), 20, 0), DecimalType(20, 0))
      CaseWhen(
        Seq((And(GreaterThanOrEqual(d, zero), LessThanOrEqual(d, max)), d)),
        Some(Literal.create(null, DecimalType(20, 0))))
    }
    val uint64 = Seq(
      "touint64ornull" -> ((args: Seq[Expression]) =>
        u64Try(args.head): Expression),
      "touint64orzero" -> ((args: Seq[Expression]) =>
        Coalesce(Seq(u64Try(args.head),
          Cast(Literal(0), DecimalType(20, 0)))): Expression))
    (signed ++ unsigned ++ uint64).toMap
  }

  private val bitMathConv: Map[String, Seq[Expression] => Expression] = Map(
    // ---- bit manipulation (bitAnd.cpp … bitTestAll.cpp) ----
    "bitand" -> (args => BitwiseAnd(args(0), args(1))),
    "bitor" -> (args => BitwiseOr(args(0), args(1))),
    "bitxor" -> (args => BitwiseXor(args(0), args(1))),
    "bitnot" -> (args => BitwiseNot(args.head)),
    "bitshiftleft" -> (args => ShiftLeft(args(0), asInt(args(1)))),
    "bitshiftright" -> (args => ShiftRight(args(0), asInt(args(1)))),
    // 64-bit rotate (bitRotateLeft.cpp); shift counts taken mod 64
    "bitrotateleft" -> (args => {
      val n = Pmod(asInt(args(1)), Literal(64))
      BitwiseOr(ShiftLeft(asLong(args(0)), n),
        ShiftRightUnsigned(asLong(args(0)), Subtract(Literal(64), n)))
    }),
    "bitrotateright" -> (args => {
      val n = Pmod(asInt(args(1)), Literal(64))
      BitwiseOr(ShiftRightUnsigned(asLong(args(0)), n),
        ShiftLeft(asLong(args(0)), Subtract(Literal(64), n)))
    }),
    "bitcount" -> (args => BitwiseCount(args.head)),
    "bittest" -> (args => bitAt(args(0), args(1))),
    "bittestall" -> (args =>
      args.tail.map(n => EqualTo(bitAt(args.head, n), Literal(1)): Expression)
        .reduce(And)),
    "bittestany" -> (args =>
      args.tail.map(n => EqualTo(bitAt(args.head, n), Literal(1)): Expression)
        .reduce(Or)),
    "bithammingdistance" -> (args =>
      Cast(BitwiseCount(BitwiseXor(asLong(args(0)), asLong(args(1)))), IntegerType)),
    "bitpositionstoarray" -> (args => bitPositions(args.head)),
    "bitmasktoarray" -> (args => {
      val i = lv("ch_bm_i")
      ArrayTransform(bitPositions(args.head),
        LambdaFunction(ShiftLeft(Literal(1L), asInt(i)), Seq(i)))
    }),
    "bitmasktolist" -> (args => {
      val i = lv("ch_bl_i")
      ArrayJoin(
        ArrayTransform(bitPositions(args.head),
          LambdaFunction(Cast(ShiftLeft(Literal(1L), asInt(i)), StringType), Seq(i))),
        Literal(","), None)
    }),

    // ---- math tail ----
    "exp2" -> (args => Pow(Literal(2.0d), asDouble(args.head))),
    "exp10" -> (args => Pow(Literal(10.0d), asDouble(args.head))),
    "clamp" -> (args => Least(Seq(Greatest(Seq(args(0), args(1))), args(2)))),
    // hypot NOT registered: Spark builtin of the same name and semantics
    // (the battery's hypot(3,4) resolves natively).
    "sigmoid" -> (args =>
      Divide(Literal(1.0d),
        Add(Literal(1.0d), Exp(UnaryMinus(asDouble(args.head)))))),
    // min2/max2 return Float64 (src/Functions/minus… min2.cpp)
    "min2" -> (args => Least(Seq(asDouble(args(0)), asDouble(args(1))))),
    "max2" -> (args => Greatest(Seq(asDouble(args(0)), asDouble(args(1))))),
    "divideornull" -> (args =>
      If(EqualTo(asDouble(args(1)), Literal(0.0d)),
        Literal.create(null, DoubleType),
        Divide(asDouble(args(0)), asDouble(args(1))))),
    "moduloornull" -> (args =>
      If(EqualTo(asLong(args(1)), Literal(0L)),
        Literal.create(null, LongType),
        Cast(Remainder(args(0), args(1)), LongType))),
    "ifnotfinite" -> (args => If(isFiniteD(args(0)), args(0), args(1))),
    "isfinite" -> (args => isFiniteD(args.head)),
    "isinfinite" -> (args =>
      EqualTo(Abs(asDouble(args.head)), Literal(Double.PositiveInfinity))),
    "iszeroornull" -> (args =>
      Or(IsNull(args.head), EqualTo(args.head, Literal(0)))),

    // ---- conversion tail ----
    "tobool" -> (args => Cast(args.head, BooleanType)),
    "tonullable" -> (args => args.head),
    "tolowcardinality" -> (args => args.head),
    "materialize" -> (args => args.head),
    "accuratecast" -> (args =>
      Cast(args.head, typeArg(args(1)), None, EvalMode.ANSI)),
    "accuratecastornull" -> (args =>
      Cast(args.head, typeArg(args(1)), None, EvalMode.TRY)),
    "accuratecastordefault" -> (args =>
      Coalesce(Seq(Cast(args.head, typeArg(args(1)), None, EvalMode.TRY)) ++
        args.drop(2))),
    // fixed-scale decimal rendering (toDecimalString.cpp); scale literal
    "todecimalstring" -> (args => args(1) match {
      case Literal(i: Int, _) =>
        Cast(Cast(args.head, DecimalType(38, i)), StringType)
      case _ => throw new IllegalArgumentException(
        "toDecimalString expects a literal scale")
    })
  )

  // ---- string / split / simpleJSON tail ------------------------------

  /** Regex-escape (regexpQuoteMeta.cpp) — same class the dialect's
    * splitByChar rewrite uses. */
  private def quoteMeta(s: Expression): Expression =
    RegExpReplace(s, Literal("([\\\\^$.|?*+()\\[\\]{}])"), Literal("\\\\$1"))

  /** Characters of a string as a string array (no split("") edge cases). */
  private def chars(s: Expression): Expression =
    If(LessThanOrEqual(Length(s), Literal(0)),
      Literal.create(Array.empty[String], ArrayType(StringType)),
      ArrayTransform(Sequence(Literal(1), Length(s), Some(Literal(1))),
        lam1(i => Substring(s, i, Literal(1)))))

  /** Substring n-grams (FunctionsStringSimilarity.h uses n=4). */
  private def ngramsOf(s: Expression, n: Expression): Expression = {
    val len = Length(s)
    val ni = asInt(n)
    If(LessThan(len, ni),
      Literal.create(Array.empty[String], ArrayType(StringType)),
      ArrayTransform(
        Sequence(Literal(1), Add(Subtract(len, ni), Literal(1)), Some(Literal(1))),
        lam1(i => Substring(s, i, ni))))
  }

  /** Word-boundary token pattern: token bounded by non-alphanumerics. */
  private def tokenPattern(token: Expression): Expression =
    Concat(Seq(Literal("(^|[^\\p{L}\\p{N}_])"), quoteMeta(token),
      Literal("([^\\p{L}\\p{N}_]|$)")))

  private def jsonPath(name: Expression): Expression =
    Concat(Seq(Literal("$."), name))

  private val stringJson: Map[String, Seq[Expression] => Expression] = Map(
    // ---- search / count (position.cpp, countSubstrings.cpp,
    // countMatches.cpp, hasToken.cpp) ----
    "positioncaseinsensitive" -> (args =>
      StringLocate(Lower(args(1)), Lower(args(0)), Literal(1))),
    "countsubstrings" -> (args =>
      If(LessThanOrEqual(Length(args(1)), Literal(0)), Literal(0),
        Cast(IntegralDivide(
          Cast(Subtract(Length(args(0)),
            Length(StringReplace(args(0), args(1), Literal("")))), LongType),
          Cast(Length(args(1)), LongType)), IntegerType))),
    "countsubstringscaseinsensitive" -> (args =>
      If(LessThanOrEqual(Length(args(1)), Literal(0)), Literal(0),
        Cast(IntegralDivide(
          Cast(Subtract(Length(args(0)),
            Length(StringReplace(Lower(args(0)), Lower(args(1)), Literal("")))), LongType),
          Cast(Length(args(1)), LongType)), IntegerType))),
    "countmatches" -> (args => RegExpCount(args(0), args(1))),
    "hastoken" -> (args => RLike(args(0), tokenPattern(args(1)))),
    "hastokencaseinsensitive" -> (args =>
      RLike(Lower(args(0)), tokenPattern(Lower(args(1))))),

    // ---- small string utilities ----
    "appendtrailingcharifabsent" -> (args =>
      If(EndsWith(args(0), args(1)), args(0), Concat(Seq(args(0), args(1))))),
    "firstline" -> (args =>
      RegExpExtract(args.head, Literal("[^\\r\\n]*"), Literal(0))),
    "basename" -> (args =>
      RegExpExtract(args.head, Literal("[^/\\\\]*$"), Literal(0))),
    "regexpquotemeta" -> (args => quoteMeta(args.head)),
    "translateutf8" -> (args => StringTranslate(args(0), args(1), args(2))),
    "reverseutf8" -> (args => Reverse(args.head)),
    "bytehammingdistance" -> (args =>
      ArrayAggregate(
        ZipWith(chars(args(0)), chars(args(1)),
          lam2((x, y) => If(EqualNullSafe(x, y), Literal(0), Literal(1)))),
        Literal(0), lam2(Add(_, _)), LambdaFunction.identity)),

    // ---- n-gram similarity (FunctionsStringSimilarity.h; DISTINCT-set
    // variant of the reference's multiset counts — same [0,1] range and
    // ordering behavior, documented deviation) ----
    "ngrams" -> (args => ngramsOf(args(0), args(1))),
    "ngramdistance" -> (args => {
      val a = ArrayDistinct(ngramsOf(args(0), Literal(4)))
      val b = ArrayDistinct(ngramsOf(args(1), Literal(4)))
      val den = Add(Size(a), Size(b))
      If(LessThanOrEqual(den, Literal(0)), Literal(0.0d),
        Subtract(Literal(1.0d),
          Divide(Multiply(Literal(2.0d),
            Cast(Size(ArrayIntersect(a, b)), DoubleType)), Cast(den, DoubleType))))
    }),
    "ngramsearch" -> (args => {
      val hay = ArrayDistinct(ngramsOf(args(0), Literal(4)))
      val needle = ArrayDistinct(ngramsOf(args(1), Literal(4)))
      If(LessThanOrEqual(Size(needle), Literal(0)), Literal(1.0d),
        Divide(Cast(Size(ArrayIntersect(needle, hay)), DoubleType),
          Cast(Size(needle), DoubleType)))
    }),

    // ---- split family (FunctionsStringArray.cpp; separator-FIRST order) ----
    "splitbystring" -> (args =>
      StringSplit(args(1), quoteMeta(args(0)), Literal(-1))),
    "splitbyregexp" -> (args => StringSplit(args(1), args(0), Literal(-1))),
    "splitbywhitespace" -> (args =>
      ArrayRemove(StringSplit(args.head, Literal("\\s+"), Literal(-1)), Literal(""))),
    "splitbynonalpha" -> (args =>
      ArrayRemove(StringSplit(args.head, Literal("[^\\p{L}\\p{N}]+"), Literal(-1)),
        Literal(""))),
    "alphatokens" -> (args =>
      ArrayRemove(StringSplit(args.head, Literal("[^\\p{L}]+"), Literal(-1)),
        Literal(""))),

    // ---- simpleJSON / visitParam (FunctionsVisitParam.h) ----
    // missing field → empty string (FunctionsVisitParam.h), not NULL
    "simplejsonextractstring" -> (args =>
      Coalesce(Seq(GetJsonObject(args(0), jsonPath(args(1))), Literal("")))),
    "simplejsonextractraw" -> (args =>
      Coalesce(Seq(GetJsonObject(args(0), jsonPath(args(1))), Literal("")))),
    "simplejsonextractint" -> (args =>
      Coalesce(Seq(Cast(GetJsonObject(args(0), jsonPath(args(1))),
        LongType, None, EvalMode.TRY), Literal(0L)))),
    "simplejsonextractuint" -> (args =>
      Coalesce(Seq(Cast(GetJsonObject(args(0), jsonPath(args(1))),
        LongType, None, EvalMode.TRY), Literal(0L)))),
    "simplejsonextractfloat" -> (args =>
      Coalesce(Seq(Cast(GetJsonObject(args(0), jsonPath(args(1))),
        DoubleType, None, EvalMode.TRY), Literal(0.0d)))),
    "simplejsonextractbool" -> (args =>
      EqualNullSafe(GetJsonObject(args(0), jsonPath(args(1))), Literal("true"))),
    "simplejsonhas" -> (args =>
      IsNotNull(GetJsonObject(args(0), jsonPath(args(1))))),
    "visitparamextractstring" -> (args =>
      Coalesce(Seq(GetJsonObject(args(0), jsonPath(args(1))), Literal("")))),
    "visitparamextractraw" -> (args =>
      Coalesce(Seq(GetJsonObject(args(0), jsonPath(args(1))), Literal("")))),
    "visitparamextractint" -> (args =>
      Coalesce(Seq(Cast(GetJsonObject(args(0), jsonPath(args(1))),
        LongType, None, EvalMode.TRY), Literal(0L)))),
    "visitparamextractuint" -> (args =>
      Coalesce(Seq(Cast(GetJsonObject(args(0), jsonPath(args(1))),
        LongType, None, EvalMode.TRY), Literal(0L)))),
    "visitparamextractfloat" -> (args =>
      Coalesce(Seq(Cast(GetJsonObject(args(0), jsonPath(args(1))),
        DoubleType, None, EvalMode.TRY), Literal(0.0d)))),
    "visitparamextractbool" -> (args =>
      EqualNullSafe(GetJsonObject(args(0), jsonPath(args(1))), Literal("true"))),
    "visitparamhas" -> (args =>
      IsNotNull(GetJsonObject(args(0), jsonPath(args(1))))),
    "jsonarraylength" -> (args => LengthOfJsonArray(args.head)),
    "tojsonstring" -> (args => StructsToJson(Map.empty, args.head)),
    // extractKeyValuePairs(s[, kvDelim[, pairDelim]])
    // (extractKeyValuePairs.cpp)
    "extractkeyvaluepairs" -> (args => args.length match {
      case 1 => StringToMap(args.head, Literal(","), Literal(":"))
      case 2 => StringToMap(args.head, Literal(","), args(1))
      case _ => StringToMap(args.head, args(2), args(1))
    })
  )

  // ---- hash tail / constant constructors / aggregate aliases ---------

  /** Typed empty-array constant (emptyArrayUInt8.cpp family). */
  private def emptyArr(dt: DataType): Expression =
    Slice(CreateArray(Seq(Cast(Literal.create(null, NullType), dt))),
      Literal(1), Literal(0))

  private def sha2bin(e: Expression, bits: Int): Expression =
    Unhex(Sha2(Cast(e, BinaryType), Literal(bits)))

  /** First `bytes` bytes of SHA-256, as a shape-compatible stand-in for
    * digests the JVM does not ship (BLAKE3/Keccak/RIPEMD/MD4) — same
    * name-compatible-NOT-value-compatible stance as cityHash64→xxhash64
    * (ChFunctionRegistry hashing note). */
  private def shaPrefix(e: Expression, bytes: Int): Expression =
    Unhex(Substring(Sha2(Cast(e, BinaryType), Literal(256)),
      Literal(1), Literal(bytes * 2)))

  private def xx(args: Seq[Expression]): Expression = XxHash64(args, 42L)

  private def pctExact(args: Seq[Expression]): Expression =
    if (args.length == 1) new Percentile(args.head, Literal(0.5))
    else new Percentile(args(0), args(1))

  private val hashEtc: Map[String, Seq[Expression] => Expression] = Map(
    // value-compatible SHA-2 family, binary-typed like the reference's
    // FixedString digests (FunctionsHashing.h). SHA1 stays the Spark
    // builtin (hex-string return — documented deviation; can't shadow).
    "sha224" -> (args => sha2bin(args.head, 224)),
    "sha256" -> (args => sha2bin(args.head, 256)),
    "sha384" -> (args => sha2bin(args.head, 384)),
    "sha512" -> (args => sha2bin(args.head, 512)),
    "crc32ieee" -> (args => Crc32(Cast(args.head, BinaryType))),
    // murmurHash2/3, javaHash, hiveHash and crc64 moved to REAL
    // published-algorithm kernels in ChRegistryTail9 (round 11, the
    // sweep-#7 SipHash pattern). Still name/shape-compatible only —
    // no published spec beyond their C sources, which the no-copy
    // policy keeps out:
    "farmhash64" -> xx,
    "farmfingerprint64" -> xx,
    "metrohash64" -> xx,
    "wyhash64" -> xx,
    "md4" -> (args => shaPrefix(args.head, 16)),
    "ripemd160" -> (args => shaPrefix(args.head, 20)),
    "blake3" -> (args => shaPrefix(args.head, 32)),
    "keccak256" -> (args => shaPrefix(args.head, 32)),

    // trivial-value functions (ignore.cpp, identity.cpp, indexHint.cpp)
    "identity" -> (args => args.head),
    "ignore" -> (_ => Literal(0)),
    "indexhint" -> (_ => Literal(true)),

    // emptyArrayX constructors
    "emptyarrayint8" -> (_ => emptyArr(ByteType)),
    "emptyarrayint16" -> (_ => emptyArr(ShortType)),
    "emptyarrayint32" -> (_ => emptyArr(IntegerType)),
    "emptyarrayint64" -> (_ => emptyArr(LongType)),
    "emptyarrayuint8" -> (_ => emptyArr(ShortType)),
    "emptyarrayuint16" -> (_ => emptyArr(IntegerType)),
    "emptyarrayuint32" -> (_ => emptyArr(LongType)),
    "emptyarrayuint64" -> (_ => emptyArr(LongType)),
    "emptyarrayfloat32" -> (_ => emptyArr(FloatType)),
    "emptyarrayfloat64" -> (_ => emptyArr(DoubleType)),
    "emptyarraystring" -> (_ => emptyArr(StringType)),
    "emptyarraydate" -> (_ => emptyArr(DateType)),
    "emptyarraydatetime" -> (_ => emptyArr(TimestampType)),

    // aggregate aliases (registerAggregateFunctions.cpp tail)
    "sumkahan" -> (args => Sum(args.head)),
    "sumwithoverflow" -> (args => Sum(args.head)),
    "stddevsampstable" -> (args => StddevSamp(args.head)),
    "stddevpopstable" -> (args => StddevPop(args.head)),
    "varsampstable" -> (args => VarianceSamp(args.head)),
    "varpopstable" -> (args => VariancePop(args.head)),
    "quantileexactinclusive" -> pctExact,
    "quantileexactexclusive" -> pctExact,
    // -If combinator forms (conditional aggregation; sumIf matches the
    // reference's 0-on-empty, the others keep SQL NULL-on-empty)
    "sumif" -> (args =>
      Coalesce(Seq(
        Sum(If(args(1), args(0), Literal.create(null, NullType)))
          .toAggregateExpression(),
        Literal(0)))),
    "avgif" -> (args =>
      Average(If(args(1), args(0), Literal.create(null, NullType)))),
    "minif" -> (args =>
      Min(If(args(1), args(0), Literal.create(null, NullType)))),
    "maxif" -> (args =>
      Max(If(args(1), args(0), Literal.create(null, NullType)))),
    "avgweighted" -> (args =>
      Divide(
        Sum(Multiply(asDouble(args(0)), asDouble(args(1))))
          .toAggregateExpression(),
        Sum(asDouble(args(1))).toAggregateExpression())),

    "positivemodulo" -> (args => Pmod(args(0), args(1))),
    "positive_modulo" -> (args => Pmod(args(0), args(1))),
    "regexpextract" -> (args =>
      RegExpExtract(args(0), args(1),
        if (args.length > 2) args(2) else Literal(1))),
    // arrayElement: 1-based with negative indexing, NULL out of bounds
    "arrayelement" -> (args =>
      ElementAt(args(0), args(1), None, failOnError = false)),

    // window-function names (WindowDescription.h): the InFrame forms are
    // plain lag/lead under Spark's frame semantics
    "laginframe" -> (args => args.length match {
      case 1 => Lag(args(0), Literal(1), Literal(null), ignoreNulls = false)
      case 2 => Lag(args(0), args(1), Literal(null), ignoreNulls = false)
      case _ => Lag(args(0), args(1), args(2), ignoreNulls = false)
    }),
    "leadinframe" -> (args => args.length match {
      case 1 => Lead(args(0), Literal(1), Literal(null), ignoreNulls = false)
      case 2 => Lead(args(0), args(1), Literal(null), ignoreNulls = false)
      case _ => Lead(args(0), args(1), args(2), ignoreNulls = false)
    }),
    "nthvalue" -> (args => NthValue(args(0), args(1), ignoreNulls = false)),
    "firstvalue" -> (args => First(args.head, ignoreNulls = false)),
    "lastvalue" -> (args => Last(args.head, ignoreNulls = false)),

    // -Array combinator forms: aggregate over all elements of all rows'
    // arrays (flatten-collect composition; exact)
    "uniqarray" -> (args =>
      Size(ArrayDistinct(Flatten(
        CollectList(args.head).toAggregateExpression())))),
    "sumarray" -> (args =>
      Coalesce(Seq(
        ArrayAggregate(
          Flatten(CollectList(args.head).toAggregateExpression()),
          Literal(0.0d), lam2(Add(_, _)), LambdaFunction.identity),
        Literal(0.0d)))),
    "minarray" -> (args =>
      ArrayMin(Flatten(CollectList(args.head).toAggregateExpression()))),
    "maxarray" -> (args =>
      ArrayMax(Flatten(CollectList(args.head).toAggregateExpression()))),

    // plural multi-quantile forms (dialect rearranges the parametric
    // call syntax quantiles(p1, p2)(x) → quantiles(x, p1, p2))
    "quantiles" -> (args =>
      new Percentile(args.head, CreateArray(args.tail))),
    "quantilesexact" -> (args =>
      new Percentile(args.head, CreateArray(args.tail))),
    "quantilestdigest" -> (args =>
      new ApproximatePercentile(args.head, CreateArray(args.tail))),
    "quantilestiming" -> (args =>
      new ApproximatePercentile(args.head, CreateArray(args.tail))),
    // discrete low/high medians (AggregateFunctionQuantileExact*.cpp)
    "quantileexactlow" -> (args =>
      if (args.length == 1) PercentileDisc(args.head, Literal(0.5))
      else PercentileDisc(args(0), args(1))),
    "quantileexacthigh" -> (args =>
      if (args.length == 1)
        PercentileDisc(args.head, Literal(0.5), reverse = true)
      else PercentileDisc(args(0), Subtract(Literal(1.0d), args(1)),
        reverse = true))
  )

  val builders: Map[String, Seq[Expression] => Expression] =
    orNullZero ++ bitMathConv ++ stringJson ++ hashEtc
}
