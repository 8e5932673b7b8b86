package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** Round-9 registry sweep #6 (diff of the reference's registered names
  * against the session registry, registerFunctions.cpp order):
  *  - theta-sketch SET ALGEBRA: uniqThetaState + uniqThetaUnion /
  *    Intersect / Not + finalizeAggregation
  *    (src/Functions/UniqTheta/FunctionsUniqTheta.cpp) over the KMV
  *    sketch's explicit-theta states;
  *  - Variant accessors variantType / variantElement (the Dynamic
  *    twins, src/Functions/variantElement.cpp);
  *  - A/B-test planning minSampleSizeContinous / Conversion
  *    (minSampleSize.cpp — named-tuple results);
  *  - hash tail xxHash32 / kafkaMurmurHash / javaHashUTF16LE
  *    (FunctionsHashing.h — published xxHash/Kafka algorithms);
  *  - string tail replaceOne / replaceRegexpOne / splitByAlpha /
  *    toStringCutToZero / visibleWidth / throwIf;
  *  - random family rand32/64/Canonical/Constant, randomString,
  *    randomPrintableASCII, randomFixedString, fuzzBits;
  *  - tuple tail tupleConcat / tupleNegate / tupleHammingDistance /
  *    tupleNames (FunctionsTuple.cpp);
  *  - array math arrayNormalizedGini (arrayNormalizedGini.cpp named
  *    tuple), normalizeLp, vectorSum / vectorDifference;
  *  - introspection zero-args: queryID / initialQueryID, uptime,
  *    revision, buildId, serverUUID, tcpPort, shardNum / shardCount,
  *    toTypeName / toColumnTypeName / defaultValueOfArgumentType;
  *  - parseDateTime 32/64/US best-effort aliases, to_base64 /
  *    from_base64 / tryBase64Decode, unbin, SHA512_256.
  */
object ChRegistryTail6 {

  private val kCls = classOf[graft.functions.SweepKernels.type]
  private val thetaCls = classOf[graft.functions.ThetaAlgebra.type]

  private def kernel(ret: DataType, method: String, args: Seq[Expression],
      types: Seq[DataType]): Expression =
    StaticInvoke(kCls, ret, method, args, types)

  private def thetaOp(method: String, args: Seq[Expression]): Expression =
    StaticInvoke(thetaCls, BinaryType, method, args.take(2),
      Seq(BinaryType, BinaryType))

  /** The session's server UUID — stable for the JVM's lifetime, like the
    * reference's per-server UUID generated at first start. */
  private lazy val serverUuid = java.util.UUID.randomUUID().toString

  private def activeConf(key: String): Option[String] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s => s.conf.getOption(key))
      // SET k = 'v' records the literal verbatim — unquote for readouts
      .map(v => v.stripPrefix("'").stripSuffix("'"))

  /** Spark type-name text (typeof output, lowercase) → reference type
    * spelling; shared by toTypeName / toColumnTypeName. */
  private def chTypeNameOf(e: Expression): Expression =
    Seq(
      "array<" -> "Array(", "map<" -> "Map(", "struct<" -> "Tuple(",
      "<" -> "(", ">" -> ")",
      "bigint" -> "Int64", "smallint" -> "Int16", "tinyint" -> "Int8",
      "interval" -> "Interval", "int" -> "Int32",
      "double" -> "Float64", "float" -> "Float32",
      "string" -> "String", "boolean" -> "Bool", "void" -> "Nothing",
      "timestamp_ntz" -> "DateTime", "timestamp" -> "DateTime",
      "date" -> "Date", "decimal" -> "Decimal", "binary" -> "String",
      "variant" -> "Dynamic"
    ).foldLeft(new TypeOf(e): Expression) { case (x, (from, to)) =>
      StringReplace(x, Literal(from), Literal(to))
    }

  private def lambda1(f: Expression => Expression): LambdaFunction = {
    val x = UnresolvedNamedLambdaVariable(Seq("ch_t6_x"))
    LambdaFunction(f(x), Seq(x))
  }

  private def lambda2(f: (Expression, Expression) => Expression): LambdaFunction = {
    val x = UnresolvedNamedLambdaVariable(Seq("ch_t6_a"))
    val y = UnresolvedNamedLambdaVariable(Seq("ch_t6_b"))
    LambdaFunction(f(x, y), Seq(x, y))
  }

  private def structFields(e: Expression): Seq[Expression] =
    e.dataType match {
      case st: StructType => st.indices.map(i => GetStructField(e, i))
      case other => throw new IllegalArgumentException(
        s"tuple function needs a struct argument, got $other")
    }

  private def namedStruct(pairs: (String, Expression)*): Expression =
    CreateNamedStruct(pairs.flatMap { case (n, e) => Seq(Literal(n), e) })

  val builders: Map[String, Seq[Expression] => Expression] = Map(
    // ---- theta-sketch set algebra ------------------------------------
    "uniqthetastate" -> (args =>
      graft.functions.ThetaSketch.UniqThetaState(args.head)),
    // initializeAggregation('uniqThetaState', x)
    // (src/Functions/initializeAggregation.cpp): the state a single-row
    // aggregation would produce — the same XxHash64(seed 42) element
    // hash UniqThetaState uses, packed as a one-element exact state, so
    // it composes with the theta set algebra and finalizeAggregation.
    "initializeaggregation" -> (args => args.head match {
      case Literal(s, StringType)
          if s != null && s.toString.equalsIgnoreCase("uniqThetaState") =>
        StaticInvoke(thetaCls, BinaryType, "singleton",
          Seq(XxHash64(Seq(args(1)), 42L)), Seq(LongType))
      case _ => throw new IllegalArgumentException(
        "initializeAggregation: only the 'uniqThetaState' lane is " +
          "implemented (the theta-sketch state family)")
    }),
    "uniqthetaunion" -> (args => thetaOp("union", args)),
    "uniqthetaintersect" -> (args => thetaOp("intersect", args)),
    "uniqthetanot" -> (args => thetaOp("andNot", args)),
    // finalizeAggregation over the explicit-theta states this engine's
    // -State lane emits (other -State families finalize through their
    // own builders; a non-theta binary fails loudly in the kernel)
    "finalizeaggregation" -> (args =>
      StaticInvoke(thetaCls, LongType, "estimate", Seq(args.head),
        Seq(BinaryType))),

    // ---- Variant accessors (variantElement.cpp / variantType.cpp):
    // the Dynamic twins — one engine type backs both
    "varianttype" -> ChRegistryTail5.builders("dynamictype"),
    "variantelement" -> ChRegistryTail5.builders("dynamicelement"),

    // ---- A/B-test sample sizing (minSampleSize.cpp named tuples) -----
    "minsamplesizecontinous" -> (args => minSampleContinuous(args)),
    "minsamplesizecontinuous" -> (args => minSampleContinuous(args)),
    "minsamplesizeconversion" -> (args => {
      val d = args.map(Cast(_, DoubleType))
      val size = kernel(DoubleType, "minSampleConversion", d.take(4),
        Seq.fill(4)(DoubleType))
      namedStruct(
        "minimum_sample_size" -> size,
        "detect_range_lower" -> Subtract(d(0), d(1)),
        "detect_range_upper" -> Add(d(0), d(1)))
    }),

    // ---- hash tail ---------------------------------------------------
    "xxhash32" -> (args => kernel(LongType, "xxHash32",
      Seq(Cast(args.head, BinaryType)), Seq(BinaryType))),
    "kafkamurmurhash" -> (args => kernel(LongType, "kafkaMurmurHash",
      Seq(Cast(args.head, BinaryType)), Seq(BinaryType))),
    "javahashutf16le" -> (args => kernel(LongType, "javaHashUtf16",
      Seq(Cast(args.head, StringType)), Seq(StringType))),
    "sha512_256" -> (args => kernel(BinaryType, "sha512_256",
      Seq(Cast(args.head, BinaryType)), Seq(BinaryType))),

    // ---- strings -----------------------------------------------------
    "replaceone" -> (args => {
      val (s, pat, rep) = (args(0), args(1), args(2))
      val pos = StringLocate(pat, s, Literal(1))
      If(EqualTo(pos, Literal(0)), s,
        Concat(Seq(
          Substring(s, Literal(1), Subtract(pos, Literal(1))), rep,
          Substring(s, Add(pos, Length(pat)), Literal(Int.MaxValue)))))
    }),
    "replaceregexpone" -> (args => kernel(StringType, "replaceRegexpOne",
      args.take(3).map(Cast(_, StringType)), Seq.fill(3)(StringType))),
    "splitbyalpha" -> (args =>
      ArrayFilter(
        StringSplit(Cast(args.head, StringType), Literal("[^A-Za-z]+"),
          Literal(-1)),
        lambda1(x => GreaterThan(Length(x), Literal(0))))),
    "tostringcuttozero" -> (args =>
      ElementAt(StringSplit(Cast(args.head, StringType),
        Literal("\u0000"), Literal(-1)), Literal(1), None,
        failOnError = false)),
    "visiblewidth" -> (args => Length(Cast(args.head, StringType))),
    "throwif" -> (args => kernel(LongType, "throwIf",
      Seq(Cast(args.head, BooleanType),
        args.lift(1).map(Cast(_, StringType)).getOrElse(
          Literal("Value passed to 'throwIf' function is non-zero"))),
      Seq(BooleanType, StringType))),
    "unbin" -> (args => Cast(kernel(BinaryType, "unbin",
      Seq(Cast(args.head, StringType)), Seq(StringType)), StringType)),

    // ---- base64 spellings --------------------------------------------
    "to_base64" -> (args => Base64(Cast(args.head, BinaryType))),
    "from_base64" -> (args => Cast(UnBase64(args.head), StringType)),
    "trybase64decode" -> (args => Cast(UnBase64(args.head), StringType)),

    // ---- random family (nondeterministic by contract, like the
    // reference's rand* — fresh seed per analysis) ---------------------
    "rand32" -> (_ => Cast(Multiply(
      Rand(Literal(scala.util.Random.nextLong()), true),
      Literal(4294967296.0)), LongType)),
    "rand64" -> (_ => {
      def r32 = Cast(Multiply(
        Rand(Literal(scala.util.Random.nextLong()), true),
        Literal(4294967296.0)), LongType)
      BitwiseOr(ShiftLeft(r32, Literal(32)), r32)
    }),
    "randcanonical" -> (_ =>
      Rand(Literal(scala.util.Random.nextLong()), true)),
    "randconstant" -> (_ =>
      Literal(scala.util.Random.nextLong() & 0xffffffffL)),
    "randomstring" -> (args => Cast(kernel(BinaryType, "randomBytes",
      Seq(Cast(args.head, IntegerType)), Seq(IntegerType)), StringType)),
    "randomfixedstring" -> (args => Cast(kernel(BinaryType, "randomBytes",
      Seq(Cast(args.head, IntegerType)), Seq(IntegerType)), StringType)),
    "randomprintableascii" -> (args => kernel(StringType,
      "randomPrintableAscii", Seq(Cast(args.head, IntegerType)),
      Seq(IntegerType))),
    "fuzzbits" -> (args => kernel(StringType, "fuzzBits",
      Seq(Cast(args(0), StringType), Cast(args(1), DoubleType)),
      Seq(StringType, DoubleType))),

    // ---- tuple tail (FunctionsTuple.cpp) -----------------------------
    "tupleconcat" -> (args => CreateStruct(args.flatMap(structFields))),
    "tuplenegate" -> (args =>
      CreateStruct(structFields(args.head).map(UnaryMinus(_)))),
    "tuplehammingdistance" -> (args => {
      val fa = structFields(args(0))
      val fb = structFields(args(1))
      require(fa.size == fb.size,
        "tupleHammingDistance: tuples must have the same size")
      fa.zip(fb).map { case (a, b) =>
        If(Not(EqualNullSafe(a, b)), Literal(1), Literal(0)): Expression
      }.reduce(Add(_, _))
    }),
    "tuplenames" -> (args => args.head.dataType match {
      case st: StructType =>
        Literal.create(st.fieldNames.toSeq, ArrayType(StringType))
      case other => throw new IllegalArgumentException(
        s"tupleNames needs a struct, got $other")
    }),

    // ---- array math --------------------------------------------------
    // arrayNormalizedGini (arrayNormalizedGini.cpp:139-174): named
    // triple (gini of labels ordered by prediction, gini of sorted
    // labels, their ratio)
    "arraynormalizedgini" -> (args => {
      def arr(e: Expression) = Cast(e, ArrayType(DoubleType))
      val g = kernel(ArrayType(DoubleType), "normalizedGini",
        Seq(arr(args(0)), arr(args(1))),
        Seq(ArrayType(DoubleType), ArrayType(DoubleType)))
      namedStruct(
        "gini_predicted" ->
          ElementAt(g, Literal(1), None, failOnError = false),
        "gini_labels" -> ElementAt(g, Literal(2), None, failOnError = false),
        "gini_normalized" ->
          ElementAt(g, Literal(3), None, failOnError = false))
    }),
    "normalizelp" -> (args => kernel(ArrayType(DoubleType), "normalizeLp",
      Seq(Cast(args(0), ArrayType(DoubleType)), Cast(args(1), DoubleType)),
      Seq(ArrayType(DoubleType), DoubleType))),

    // ---- sqids (sqid.cpp — published sqids spec, default alphabet,
    // no blocklist; vectors pinned in q_fn_sqids) ----------------------
    "sqid" -> (args => kernel(StringType, "sqidEncode",
      Seq(CreateArray(args.map(Cast(_, LongType)))),
      Seq(ArrayType(LongType)))),
    "sqidencode" -> (args => kernel(StringType, "sqidEncode",
      Seq(CreateArray(args.map(Cast(_, LongType)))),
      Seq(ArrayType(LongType)))),
    "sqiddecode" -> (args => kernel(ArrayType(LongType), "sqidDecode",
      Seq(Cast(args.head, StringType)), Seq(StringType))),

    // ---- series analytics (seriesOutliersDetectTukey.cpp,
    // seriesPeriodDetectFFT.cpp) ---------------------------------------
    "seriesoutliersdetecttukey" -> (args => kernel(ArrayType(DoubleType),
      "seriesOutliersTukey",
      Seq(Cast(args(0), ArrayType(DoubleType)),
        args.lift(1).map(Cast(_, DoubleType)).getOrElse(Literal(0.25)),
        args.lift(2).map(Cast(_, DoubleType)).getOrElse(Literal(0.75)),
        args.lift(3).map(Cast(_, DoubleType)).getOrElse(Literal(1.5))),
      Seq(ArrayType(DoubleType), DoubleType, DoubleType, DoubleType))),
    "seriesperioddetectfft" -> (args => kernel(DoubleType, "seriesPeriodFFT",
      Seq(Cast(args.head, ArrayType(DoubleType))),
      Seq(ArrayType(DoubleType)))),
    "vectorsum" -> (args =>
      ZipWith(args(0), args(1), lambda2(Add(_, _)))),
    "vectordifference" -> (args =>
      ZipWith(args(0), args(1), lambda2(Subtract(_, _)))),

    // ---- introspection zero-args -------------------------------------
    // queryID/initialQueryID read the session's SET query_id (the same
    // knob KILL QUERY targets); single-statement sessions have initial
    // == current, the honest single-node identity
    "queryid" -> (_ => Literal(activeConf("graft.ch.query_id").getOrElse(""))),
    "currentqueryid" -> (_ =>
      Literal(activeConf("graft.ch.query_id").getOrElse(""))),
    "current_query_id" -> (_ =>
      Literal(activeConf("graft.ch.query_id").getOrElse(""))),
    "initialqueryid" -> (_ =>
      Literal(activeConf("graft.ch.query_id").getOrElse(""))),
    "initial_query_id" -> (_ =>
      Literal(activeConf("graft.ch.query_id").getOrElse(""))),
    "uptime" -> (_ => Literal(
      org.apache.spark.sql.SparkSession.getActiveSession
        .map(s => (System.currentTimeMillis - s.sparkContext.startTime) / 1000L)
        .getOrElse(0L))),
    // engine revision: numeric Spark version (4.1.2 → 40102) — this
    // engine's build lineage, not a faked reference revision
    "revision" -> (_ => Literal(
      org.apache.spark.sql.SparkSession.getActiveSession.map { s =>
        val p = s.version.split("[.-]").take(3).map(v =>
          scala.util.Try(v.toInt).getOrElse(0))
        p(0) * 10000L + p(1) * 100L + p(2)
      }.getOrElse(0L))),
    "buildid" -> (_ => Literal("")),
    "serveruuid" -> (_ => Literal(serverUuid)),
    "tcpport" -> (_ => Literal(9000)),
    "shardnum" -> (_ => Literal(1)),
    "shardcount" -> (_ => Literal(1)),
    "totypename" -> (args => chTypeNameOf(args.head)),
    "tocolumntypename" -> (args => chTypeNameOf(args.head)),
    // defaultValueOfArgumentType.cpp: type.getDefault() — the TYPE's
    // default value (0 for numerics, '' for String), not NULL
    "defaultvalueofargumenttype" -> (args =>
      scala.util.Try(Literal.default(args.head.dataType))
        .getOrElse(Literal.create(null, args.head.dataType))),

    // ---- parseDateTime width/US aliases: the shared best-effort parser
    // serves all widths (sub-second handling is identical); the US
    // variants share it too — slash dates already parse month-first
    "parsedatetime32besteffortornull" ->
      ChRegistryMisc.builders("parsedatetimebesteffortornull"),
    "parsedatetime32besteffortorzero" ->
      ChRegistryMisc.builders("parsedatetimebesteffortorzero"),
    "parsedatetimebesteffortus" ->
      ChRegistryMisc.builders("parsedatetimebesteffort"),
    "parsedatetimebesteffortusornull" ->
      ChRegistryMisc.builders("parsedatetimebesteffortornull"),
    "parsedatetimebesteffortusorzero" ->
      ChRegistryMisc.builders("parsedatetimebesteffortorzero")
  )

  private def minSampleContinuous(args: Seq[Expression]): Expression = {
    val d = args.map(Cast(_, DoubleType))
    val size = kernel(DoubleType, "minSampleContinuous", d.take(5),
      Seq.fill(5)(DoubleType))
    val delta = Multiply(d(0), d(2))
    namedStruct(
      "minimum_sample_size" -> size,
      "detect_range_lower" -> Subtract(d(0), delta),
      "detect_range_upper" -> Add(d(0), delta))
  }
}
