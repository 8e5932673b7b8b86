package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.types._

/** ClickHouse function-name surface registered onto Spark's
  * FunctionRegistry as thin Catalyst expression builders — the Spark
  * rendering of the reference's name registration in
  * src/Functions/registerFunctions.cpp and
  * src/AggregateFunctions/registerAggregateFunctions.cpp.
  *
  * Every alias resolves to a codegen'd built-in expression; nothing here
  * adds runtime cost over the native Spark name. Hash functions are
  * name-compatible, NOT value-compatible with the reference (SURVEY §7
  * hard-parts: never pin hash values in tests).
  */
object ChFunctionRegistry {

  private def cast(dt: DataType): Seq[Expression] => Expression =
    args => Cast(args.head, dt)

  /** Fold a literal/foldable numeric argument to its Double value. */
  private def foldDouble(e: Expression): Double = e.eval() match {
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case n: Number => n.doubleValue()
    case other => throw new IllegalArgumentException(
      s"expected a numeric literal, got $other")
  }


  private def tryCast(dt: DataType): Seq[Expression] => Expression =
    args => Cast(args.head, dt, None, EvalMode.TRY)

  /** name → builder. One entry per reference function family member we
    * alias (SURVEY §2.8 curated list). */
  private val coreBuilders: Map[String, Seq[Expression] => Expression] = Map(
    // type conversion (FunctionsConversion)
    "toint8" -> cast(ByteType), "toint16" -> cast(ShortType),
    "toint32" -> cast(IntegerType), "toint64" -> cast(LongType),
    // CH toUIntN wraps mod 2^N on overflow (FunctionsConversion.h) — pmod
    // reproduces the wrap; toUInt64 keeps the widening DECIMAL(20,0) cast
    // (no 64-bit unsigned carrier in Spark; negative wrap NOT reproduced).
    "touint8" -> (args =>
      Cast(Pmod(Cast(args.head, LongType), Literal(256L)), ShortType)),
    "touint16" -> (args =>
      Cast(Pmod(Cast(args.head, LongType), Literal(65536L)), IntegerType)),
    "touint32" -> (args =>
      Pmod(Cast(args.head, LongType), Literal(4294967296L))),
    "touint64" -> cast(DecimalType(20, 0)),
    "tofloat32" -> cast(FloatType), "tofloat64" -> cast(DoubleType),
    "tostring" -> cast(StringType), "todate" -> cast(DateType),
    "todatetime" -> cast(TimestampType),
    "toint32ornull" -> tryCast(IntegerType),
    "toint64ornull" -> tryCast(LongType),
    "tofloat64ornull" -> tryCast(DoubleType),
    "toint32orzero" -> (args =>
      Coalesce(Seq(Cast(args.head, IntegerType, None, EvalMode.TRY), Literal(0)))),
    "toint64orzero" -> (args =>
      Coalesce(Seq(Cast(args.head, LongType, None, EvalMode.TRY), Literal(0L)))),

    // arithmetic and comparison names (plus.cpp, equals.cpp, ...) live in
    // ChRegistryWide, which also covers the 128/256-bit integer types.

    // conditionals (if.cpp, multiIf.cpp, ifNull.cpp, nullIf.cpp)
    "multiif" -> (args => {
      val branches = args.dropRight(1).grouped(2).map(p => (p(0), p(1))).toSeq
      CaseWhen(branches, Some(args.last))
    }),
    "ifnull" -> (args => Coalesce(args)),
    "nullif" -> (args => If(EqualTo(args(0), args(1)),
      Literal.create(null, args(0).dataType), args(0))),
    "assumenotnull" -> (args => args.head),

    // strings (position.cpp arg order is (haystack, needle)!)
    "lcase" -> (args => Lower(args.head)),
    "ucase" -> (args => Upper(args.head)),
    "lowerutf8" -> (args => Lower(args.head)),
    "upperutf8" -> (args => Upper(args.head)),
    "substringutf8" -> (args => Substring(args(0), args(1), args(2))),
    "lengthutf8" -> (args => Length(args.head)),
    "empty" -> (args => EqualTo(Length(args.head), Literal(0))),
    "notempty" -> (args => GreaterThan(Length(args.head), Literal(0))),
    "concatassumeinjective" -> (args => Concat(args)),
    // NOTE: CH `extract(haystack, re)` and `position(haystack, needle)` are
    // NOT registered: the names collide with ANSI EXTRACT(unit FROM ts) and
    // POSITION(needle IN str) (opposite argument order) and would corrupt
    // standard SQL. The UTF8-suffixed CH spellings cover the use case.
    "match" -> (args => RLike(args(0), args(1))),
    "positionutf8" -> (args => StringLocate(args(1), args(0), Literal(1))),
    "extractutf8" -> (args => RegExpExtract(args(0), args(1), Literal(1))),
    "replaceall" -> (args => StringReplace(args(0), args(1), args(2))),
    "leftpad" -> (args => StringLPad(args(0), args(1),
      if (args.length > 2) args(2) else Literal(" "))),
    "rightpad" -> (args => StringRPad(args(0), args(1),
      if (args.length > 2) args(2) else Literal(" "))),
    "substringindex" -> (args => SubstringIndex(args(0), args(1), args(2))),
    "trimboth" -> (args => StringTrim(args.head)),
    "trimleft" -> (args => StringTrimLeft(args.head)),
    "trimright" -> (args => StringTrimRight(args.head)),
    "concatwithseparator" -> (args => ConcatWs(args)),
    "replaceregexpall" -> (args => RegExpReplace(args(0), args(1), args(2))),
    "splitbychar" -> (args => StringSplit(args(1),
      RegExpReplace(args(0), Literal("([\\\\^$.|?*+()\\[\\]{}])"), Literal("\\\\$1")), Literal(-1))),
    "startswith" -> (args => StartsWith(args(0), args(1))),
    "endswith" -> (args => EndsWith(args(0), args(1))),
    // multiSearchAny / multiMatchAny (src/Functions/multiSearchAny.cpp,
    // MultiMatchAnyImpl.h): literal needle sets of >= 4 compile to ONE
    // Aho-Corasick automaton pass per row (the Hyperscan-class single-scan
    // structure — an OR-of-contains rescans the haystack once per needle);
    // smaller sets stay an OR-chain of codegen'd CONTAINS, where each
    // disjunct can still push into the scan as a string predicate.
    // Non-literal needle columns fall back to an EXISTS higher-order
    // lambda (interpreted, but fully general — the round-2 "array-literal
    // only" gap).
    "multisearchany" -> (args => args(1) match {
      case CreateArray(items, _) if items.isEmpty => Literal(false)
      case CreateArray(items, _)
          if items.size >= 4 && items.forall {
            case Literal(s, StringType) => s != null
            case _ => false
          } =>
        org.apache.spark.sql.graft.MultiSearchAnyAC(args(0),
          items.map { case Literal(s, StringType) => s.toString })
      case CreateArray(items, _) =>
        items.map(n => Contains(args(0), n): Expression).reduce(Or)
      case needles =>
        val x = NamedLambdaVariable("ms_n", StringType, nullable = true)
        ArrayExists(needles, LambdaFunction(Contains(args(0), x), Seq(x)))
    }),
    // Literal pattern sets COMBINE into one alternation regex
    // "(?:p1)|(?:p2)|…" — one compiled automaton pass per row instead of k
    // (the single-scan idea behind the reference's Hyperscan dispatch in
    // MultiMatchAnyImpl.h, rendered as a regex union). Patterns using
    // constructs that don't compose under alternation — inline flags /
    // lookaround "(?", or numbered backrefs whose group numbering would
    // shift — fall back to the OR-chain, which is still codegen'd.
    "multimatchany" -> (args => args(1) match {
      case CreateArray(items, _) if items.isEmpty => Literal(false)
      case CreateArray(items, _)
          if items.forall {
            case Literal(s, StringType) if s != null =>
              val p = s.toString
              !p.contains("(?") && !"\\\\[0-9]".r.findFirstIn(p).isDefined
            case _ => false
          } =>
        val combined = items.map { case Literal(s, StringType) =>
          s"(?:${s.toString})" }.mkString("|")
        RLike(args(0), Literal(combined))
      case CreateArray(items, _) =>
        items.map(n => RLike(args(0), n): Expression).reduce(Or)
      case patterns =>
        val x = NamedLambdaVariable("mm_p", StringType, nullable = true)
        ArrayExists(patterns, LambdaFunction(RLike(args(0), x), Seq(x)))
    }),

    // date/time (DateTimeTransforms.h)
    "toyear" -> (args => Year(args.head)),
    "tomonth" -> (args => Month(args.head)),
    "todayofmonth" -> (args => DayOfMonth(args.head)),
    "todayofweek" -> (args => Add(WeekDay(args.head), Literal(1))),
    "tohour" -> (args => Hour(args.head)),
    "tominute" -> (args => Minute(args.head)),
    "tosecond" -> (args => Second(args.head)),
    "toquarter" -> (args => Quarter(args.head)),
    "tostartofday" -> (args => TruncTimestamp(Literal("day"), args.head)),
    "tostartofmonth" -> (args => TruncTimestamp(Literal("month"), args.head)),
    "tostartofquarter" -> (args => TruncTimestamp(Literal("quarter"), args.head)),
    "tostartofyear" -> (args => TruncTimestamp(Literal("year"), args.head)),
    "tostartofhour" -> (args => TruncTimestamp(Literal("hour"), args.head)),
    "tostartofminute" -> (args => TruncTimestamp(Literal("minute"), args.head)),
    "toyyyymm" -> (args => Cast(DateFormatClass(args.head, Literal("yyyyMM")), IntegerType)),
    "toyyyymmdd" -> (args => Cast(DateFormatClass(args.head, Literal("yyyyMMdd")), IntegerType)),
    "adddays" -> (args => TimestampAdd("DAY", Cast(args(1), LongType), args(0))),
    "addhours" -> (args => TimestampAdd("HOUR", Cast(args(1), LongType), args(0))),
    "addminutes" -> (args => TimestampAdd("MINUTE", Cast(args(1), LongType), args(0))),
    "addseconds" -> (args => TimestampAdd("SECOND", Cast(args(1), LongType), args(0))),
    "addweeks" -> (args => TimestampAdd("WEEK", Cast(args(1), LongType), args(0))),
    "addmonths" -> (args => TimestampAdd("MONTH", Cast(args(1), LongType), args(0))),
    "addquarters" -> (args => TimestampAdd("QUARTER", Cast(args(1), LongType), args(0))),
    "addyears" -> (args => TimestampAdd("YEAR", Cast(args(1), LongType), args(0))),
    "subtractdays" -> (args =>
      TimestampAdd("DAY", UnaryMinus(Cast(args(1), LongType)), args(0))),
    "subtractmonths" -> (args =>
      TimestampAdd("MONTH", UnaryMinus(Cast(args(1), LongType)), args(0))),
    "subtractyears" -> (args =>
      TimestampAdd("YEAR", UnaryMinus(Cast(args(1), LongType)), args(0))),
    "todayofyear" -> (args => DayOfYear(args.head)),
    "toisoweek" -> (args => WeekOfYear(args.head)),
    "tomonday" -> (args => TruncDate(Cast(args.head, DateType), Literal("week"))),
    "tolastdayofmonth" -> (args => LastDay(args.head)),
    "tounixtimestamp" -> (args => UnixTimestamp(args.head, Literal("yyyy-MM-dd HH:mm:ss"))),
    "fromunixtimestamp" -> (args => SecondsToTimestamp(args.head)),

    // hashing/encoding (FunctionsHashing.h). cityHash64 stays a
    // name-only stand-in (values are ours); sipHash64/halfMD5 live in
    // ChRegistryTail7 as the published algorithms.
    "cityhash64" -> (args => XxHash64(args, 42L)),
    "hex" -> (args => Hex(args.head)),
    "unhex" -> (args => Unhex(args.head)),
    "base64encode" -> (args => Base64(Cast(args.head, BinaryType))),
    "base64decode" -> (args => Cast(UnBase64(args.head), StringType)),
    // IPv6/UUID codecs (FunctionsCodingIP.cpp, FunctionsCodingUUID.cpp) —
    // shared expression trees with the Column API (CodecExpressions).
    "ipv6numtostring" -> (args => CodecExpressions.ipv6NumToString(args.head)),
    "ipv6stringtonum" -> (args => CodecExpressions.ipv6StringToNum(args.head)),
    "uuidnumtostring" -> (args => CodecExpressions.uuidNumToString(args.head)),
    "uuidstringtonum" -> (args => CodecExpressions.uuidStringToNum(args.head)),

    // math
    "intexp2" -> (args => Cast(Pow(Literal(2.0), Cast(args.head, DoubleType)), LongType)),
    "intexp10" -> (args => Cast(Pow(Literal(10.0), Cast(args.head, DoubleType)), LongType)),
    "cbrt" -> (args => Cbrt(args.head)),

    // arrays (src/Functions/array)
    "has" -> (args => ArrayContains(args(0), args(1))),
    "indexof" -> (args => ArrayPosition(args(0), args(1))),
    "arrayconcat" -> (args => Concat(args)),
    "arrayslice" -> (args => Slice(args(0), args(1), args(2))),
    "arraydistinct" -> (args => ArrayDistinct(args.head)),
    "arrayflatten" -> (args => Flatten(args.head)),
    "arrayreverse" -> (args => Reverse(args.head)),
    "arrayintersect" -> (args => args.reduce((a, b) => ArrayIntersect(a, b))),
    "arraysort" -> (args => SortArray(args.head, Literal(true))),
    "arrayreversesort" -> (args => Reverse(SortArray(args.head, Literal(true)))),
    "arraystringconcat" -> (args =>
      ArrayJoin(args(0), if (args.length > 1) args(1) else Literal(""), None)),
    "arrayuniq" -> (args => Size(ArrayDistinct(args.head))),
    "arraymin" -> (args =>
      if (args.length == 2)
        ChRegistryArrays.hofWrap(ArrayMin(ArrayTransform(args(1), args(0))))
      else ArrayMin(args.head)),
    "arraymax" -> (args =>
      if (args.length == 2)
        ChRegistryArrays.hofWrap(ArrayMax(ArrayTransform(args(1), args(0))))
      else ArrayMax(args.head)),
    "arraypushback" -> (args => Concat(Seq(args(0), CreateArray(Seq(args(1)))))),
    "arraypushfront" -> (args => Concat(Seq(CreateArray(Seq(args(1))), args(0)))),
    "arraypopback" -> (args => Slice(args(0), Literal(1),
      Greatest(Seq(Subtract(Size(args(0)), Literal(1)), Literal(0))))),
    "arraypopfront" -> (args => Slice(args(0), Literal(2),
      Greatest(Seq(Subtract(Size(args(0)), Literal(1)), Literal(0))))),
    "emptyarraytosingle" -> (args => If(EqualTo(Size(args.head), Literal(0)),
      CreateArray(Seq(Literal(0))), args.head)),
    // maps (src/Functions/map.cpp, FunctionsMapMiscellaneous.cpp)
    "mapkeys" -> (args => MapKeys(args.head)),
    "mapvalues" -> (args => MapValues(args.head)),
    "mapcontains" -> (args => ArrayContains(MapKeys(args(0)), args(1))),
    // range(n) / range(a, b): empty/negative ranges return [] like the
    // reference (Sequence(0, -1) would fall back to a DESCENDING step and
    // yield [0, -1]).
    "range" -> (args => {
      def mk(start: Expression, stop: Expression): Expression =
        If(LessThanOrEqual(stop, start),
          Literal.create(Array.empty[Long], ArrayType(LongType)),
          Sequence(start, Subtract(stop, Literal(1L)), Some(Literal(1L))))
      if (args.length == 1) mk(Literal(0L), Cast(args.head, LongType))
      else mk(Cast(args(0), LongType), Cast(args(1), LongType))
    }),

    // rounding specials (FunctionsRound.cpp: roundToExp2, roundDuration,
    // roundAge — threshold-bucket rounding)
    "roundtoexp2" -> (args => {
      val x = Cast(args.head, DoubleType)
      If(LessThan(x, Literal(1.0)), Literal(0L),
        Cast(Pow(Literal(2.0), Floor(Log2(x))), LongType))
    }),
    "roundduration" -> (args => {
      val x = Cast(args.head, LongType)
      val buckets = Seq(36000L, 18000L, 7200L, 3600L, 1800L, 1200L, 600L,
        300L, 240L, 180L, 120L, 60L, 30L, 10L, 1L)
      buckets.foldRight(Literal(0L): Expression)((t, acc) =>
        If(GreaterThanOrEqual(x, Literal(t)), Literal(t), acc))
    }),
    "roundage" -> (args => {
      val x = Cast(args.head, LongType)
      val steps = Seq(55L -> 55L, 45L -> 45L, 35L -> 35L, 25L -> 25L,
        18L -> 18L, 1L -> 17L)
      steps.foldRight(Literal(0L): Expression) { case ((lo, out), acc) =>
        If(GreaterThanOrEqual(x, Literal(lo)), Literal(out), acc)
      }
    }),
    // introspection (src/Functions/registerFunctionsIntrospection.cpp,
    // bar.cpp). `version` is NOT registered (Spark builtin, pinned
    // skip-list in ChRegistrySpec); `bar` renders a 1/8-block proportional
    // bar exactly like the reference.
    "currentdatabase" -> (_ => Literal("default")),
    "bar" -> (args => {
      val x = Cast(args(0), DoubleType)
      val mn = Cast(args(1), DoubleType)
      val mx = Cast(args(2), DoubleType)
      val w = if (args.length >= 4) Cast(args(3), DoubleType) else Literal(80.0)
      val width = Multiply(Divide(Subtract(x, mn), Subtract(mx, mn)), w)
      val clamped = Least(Seq(Greatest(Seq(width, Literal(0.0))), w))
      val full = Cast(Floor(clamped), IntegerType)
      val frac = Cast(Multiply(Subtract(clamped, Floor(clamped)), Literal(8.0)), IntegerType)
      Concat(Seq(
        StringRepeat(Literal("█"), full),
        If(GreaterThan(frac, Literal(0)),
          Substring(Literal("▏▎▍▌▋▊▉"), frac, Literal(1)),
          Literal(""))))
    }),

    // NLP minimal pack (src/Functions/tokens.cpp, stem.cpp). `tokens`
    // splits on non-alphanumeric runs; `stem` is a deterministic
    // suffix-stripping heuristic (the reference links libstemmer — not in
    // this environment; same honest-heuristic stance as detectLanguage).
    "tokens" -> (args =>
      ArrayRemove(
        StringSplit(args.head, Literal("[^\\p{L}\\p{N}_]+"), Literal(-1)),
        Literal(""))),
    "stem" -> (args => {
      val w = Lower(if (args.length == 2) args(1) else args.head)
      // order matters: sses→ss, ies→i, -ing/-ed/-ly after a 3+ letter stem,
      // then trailing plural s (not -ss).
      RegExpReplace(
        RegExpReplace(
          RegExpReplace(
            RegExpReplace(w, Literal("sses$"), Literal("ss")),
            Literal("ies$"), Literal("i")),
          Literal("([a-z]{3,})(ing|edly|ed|ly)$"), Literal("$1")),
        Literal("([a-z]+[^su])s$"), Literal("$1"))
    }),

    // aggregates (registerAggregateFunctions.cpp)
    "uniq" -> (args => HyperLogLogPlusPlus(args.head)),
    "uniqhll12" -> (args => HyperLogLogPlusPlus(args.head)),
    "uniqcombined" -> (args => HyperLogLogPlusPlus(args.head)),
    // uniqTheta (src/Functions/UniqTheta/): name-compatible sketch distinct
    // — carried by Spark's HLL++ (same observable: approximate count).
    // real KMV theta estimator (functions/ThetaSketch.scala), no longer
    // an HLL alias — k=1024 nominal entries like the reference default
    "uniqtheta" -> (args => graft.functions.ThetaSketch.UniqTheta(args.head)),
    "uniqexact" -> (args => Count(args).toAggregateExpression(isDistinct = true)),
    // -State/-Merge for uniq, carried by DataSketches HLL (binary states
    // persist to parquet and re-merge, exactly like the reference's
    // AggregateFunction(uniq, ...) columns in an AggregatingMergeTree).
    "uniqstate" -> (args => new HllSketchAgg(args.head)),
    "uniqmerge" -> (args =>
      HllSketchEstimate(new HllUnionAgg(args.head).toAggregateExpression())),
    // CH `any` (first value) is NOT registered: Spark's built-in `any` is
    // bool_or, and shadowing it would silently change standard-SQL
    // semantics session-wide. The dialect rewriter maps any( → any_value(.
    "anylast" -> (args => Last(args.head, ignoreNulls = true)),
    "argmin" -> (args => MinBy(args(0), args(1))),
    "argmax" -> (args => MaxBy(args(0), args(1))),
    "median" -> (args => new Percentile(args.head, Literal(0.5))),
    "quantile" -> (args =>
      if (args.length == 1) new Percentile(args.head, Literal(0.5))
      else new Percentile(args(0), args(1))),
    "quantileexact" -> (args =>
      if (args.length == 1) new Percentile(args.head, Literal(0.5))
      else new Percentile(args(0), args(1))),
    // REAL merging t-digest (functions/QuantileSketches.scala), no longer
    // an ApproximatePercentile alias — δ=100 like the reference default
    "quantiletdigest" -> (args =>
      graft.functions.QuantileSketches.QuantileTDigest(args.head,
        if (args.length > 1) foldDouble(args(1)) else 0.5)),
    // Remaining quantile sketch engines (AggregateFunctionQuantile*.cpp:
    // Timing, GK, DD, BFloat16, Deterministic, InterpolatedWeighted) — all
    // carried by Spark's single approximate-percentile sketch. The engine
    // choice in CH trades accuracy/memory; the observable (an approximate
    // quantile) is the same, so every name maps to ApproximatePercentile.
    // quantileDeterministic's determinism seed is accepted and ignored
    // (Spark's sketch is already deterministic for a given dataset).
    // REAL fixed-histogram timing sketch (functions/TimingSketch.scala):
    // exact below 1024, 16-wide jittered bins to 30000, clamp above —
    // the reference's bin layout reproduced exactly
    "quantiletiming" -> (args =>
      graft.functions.TimingSketch.QuantileTiming(args.head,
        if (args.length > 1) foldDouble(args(1)) else 0.5)),
    "quantilegk" -> (args =>
      if (args.length == 1) new ApproximatePercentile(args.head, Literal(0.5))
      else new ApproximatePercentile(args(0), args(1))),
    // REAL DDSketch (functions/QuantileSketches.scala): reference form
    // quantileDD(relative_accuracy[, level])(x) arrives post-parametric-
    // rewrite as (x, alpha[, q]) — relative-error guarantee alpha
    "quantiledd" -> (args =>
      graft.functions.QuantileSketches.QuantileDD(args.head,
        q = if (args.length > 2) foldDouble(args(2)) else 0.5,
        alpha = if (args.length > 1) foldDouble(args(1)) else 0.01)),
    "quantilebfloat16" -> (args =>
      if (args.length == 1) new ApproximatePercentile(args.head, Literal(0.5))
      else new ApproximatePercentile(args(0), args(1))),
    "quantiledeterministic" -> (args =>
      if (args.length <= 2) new ApproximatePercentile(args.head, Literal(0.5))
      else new ApproximatePercentile(args(0), args(2))),
    "quantileinterpolatedweighted" -> (args =>
      // weighted interpolated quantile ≈ exact percentile with frequency
      // weights (Percentile supports a frequency expression).
      if (args.length == 2) new Percentile(args(0), Literal(0.5), args(1))
      else new Percentile(args(0), args(2), args(1))),
    "quantileexactweighted" -> (args =>
      if (args.length == 2) new Percentile(args(0), Literal(0.5), args(1))
      else new Percentile(args(0), args(2), args(1))),
    "stddevpop" -> (args => StddevPop(args.head)),
    "stddevsamp" -> (args => StddevSamp(args.head)),
    "varpop" -> (args => VariancePop(args.head)),
    "varsamp" -> (args => VarianceSamp(args.head)),
    "covarpop" -> (args => CovPopulation(args(0), args(1))),
    "covarsamp" -> (args => CovSample(args(0), args(1))),
    "grouparray" -> (args => CollectList(args.head)),
    "groupuniqarray" -> (args => CollectSet(args.head)),
    "countif" -> (args => Count(Seq(If(args.head, Literal(1), Literal.create(null, IntegerType)))))
    // CH zero-arg count() is a dialect rewrite (count() → count(*)), not a
    // registration — shadowing Spark's `count` risks corrupting every
    // standard query in the session if the semantics ever drift.
  )

  /** Full surface: core names + the per-area extension packs. */
  val builders: Map[String, Seq[Expression] => Expression] =
    coreBuilders ++ ChRegistryArrays.builders ++ ChRegistryExt.builders ++
      ChRegistryUrlDate.builders ++ ChRegistryMisc.builders ++
      ChRegistryTail.builders ++ ChRegistryTail2.builders ++
      ChRegistryTail3.builders ++ ChRegistryTail4.builders ++
      ChRegistryTail5.builders ++ ChRegistryTail6.builders ++
      ChRegistryTail7.builders ++ ChRegistryTail8.builders ++
      ChRegistryTail9.all ++ ChRegistryTail10.builders ++
      ChRegistryWide.builders ++ Dictionaries.builders

  /** Install the aliases into the session's function registry — but ONLY
    * names Spark does not already provide. Names that exist as Spark
    * built-ins with identical semantics (hex, unhex, nullif, ifnull,
    * startswith, endswith, lcase, ucase, median, cbrt…) resolve natively;
    * re-registering them would shadow the whole session and one future
    * semantic drift would corrupt every standard query
    * (ChRegistryParitySpec asserts the parity this relies on). */
  private val installedSessions =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  /** Names registered even though a Spark built-in of the same name
    * exists, because the REFERENCE semantics differ from the built-in's:
    * monthName returns the full month name ('March', toCustomWeek.cpp
    * dateName path) where Spark 4's monthname() abbreviates ('Mar').
    * Pinned in ChRegistrySpec — additions need the same explicit call. */
  private val overrideBuiltins = Set("monthname")

  def install(spark: SparkSession): Unit = synchronized {
    if (installedSessions.contains(spark)) return // idempotent: no re-register
    // TLD lists also register through CREATE NAMED COLLECTION (the
    // analog of TLDListsHolder's config-named list files)
    graft.functions.TldLists.collectionProvider =
      name => ClickHouseSql.namedCollection(name)
    graft.functions.GeoBases.collectionProvider =
      name => ClickHouseSql.namedCollection(name)
    graft.functions.NlpDictionaries.collectionProvider =
      name => ClickHouseSql.namedCollection(name)
    val registry = spark.sessionState.functionRegistry
    val builtin = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
    builders.foreach { case (name, builder) =>
      if (overrideBuiltins.contains(name) ||
          !builtin.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
    installedSessions.add(spark)
  }

  /** Names in `builders` that are skipped at install time because a Spark
    * built-in of the same name already has the semantics (kept for the
    * parity test). */
  def shadowedBuiltins(spark: SparkSession): Seq[String] = {
    val builtin = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
    builders.keys.toSeq.sorted
      .filterNot(overrideBuiltins.contains)
      .filter(n => builtin.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
  }
}
