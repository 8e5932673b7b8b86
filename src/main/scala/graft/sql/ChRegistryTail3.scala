package graft.sql

import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** Round-6 registry sweep — the remaining high-traffic names from the
  * reference's registration order: the AUC family's PR/ROC variants
  * (src/Functions/array/arrayAUC.cpp:131,496), server/block introspection
  * constants (src/Functions/serverConstants.cpp,
  * blockNumber.cpp/rowNumberInBlock.cpp), timezone surface
  * (serverConstants.cpp:173-185, toTimezone.cpp), and the literal-unit
  * date arithmetic forms (dateAdd/dateSub/timestampAdd/timestampSub,
  * src/Functions/dateAdd.cpp aliases).
  */
object ChRegistryTail3 {

  private def asLong(e: Expression): Expression = Cast(e, LongType)

  private val qnCls = classOf[graft.functions.QueryNormKernels.type]
  private val hkCls = classOf[graft.functions.HashKernels.type]

  /** args(i) as Int expression, or the literal default. */
  private def argOr(args: Seq[Expression], i: Int, default: Int): Expression =
    if (args.length > i) Cast(args(i), IntegerType) else Literal(default)

  /** 'aes-128-ecb' → the Spark mode literal (ECB/CBC/GCM). */
  private def aesModeOf(e: Expression): Expression = {
    val m = litString(e, "encrypt/decrypt mode").toLowerCase.split("-")
    require(m.length == 3 && m(0) == "aes" &&
        Set("128", "192", "256")(m(1)) && Set("ecb", "cbc", "gcm")(m(2)),
      s"unsupported cipher mode '${m.mkString("-")}'")
    Literal(m(2).toUpperCase)
  }

  private def lv(n: String): NamedLambdaVariable =
    NamedLambdaVariable(n, DoubleType, nullable = true)

  /** Literal string argument or fail loudly (unit names, type names). */
  private def litString(e: Expression, what: String): String = e match {
    case Literal(s, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"$what expects a literal string, got $other")
  }

  /** The lower-triangle-symmetric pairwise matrix of `f` over the call's
    * columns, as array(array(double)). */
  private def matrixOf(cols: Seq[Expression],
      f: (Expression, Expression) => Expression): Expression =
    CreateArray(cols.map(a => CreateArray(cols.map(b =>
      Cast(f(Cast(a, DoubleType), Cast(b, DoubleType)), DoubleType)))))

  /** dateSub('unit', n, ts) — reference dateAdd.cpp's *Sub twins, in the
    * string-literal-unit form (the bare-identifier form is a parser
    * privilege of Spark's builtin dateadd/timestampadd, which cover the
    * Add twins with identical semantics — so those are NOT registered). */
  private def dateArith(args: Seq[Expression], sign: Int): Expression = {
    val unit = litString(args(0), "dateSub/timestampSub").toUpperCase
    val n = if (sign >= 0) asLong(args(1)) else UnaryMinus(asLong(args(1)))
    TimestampAdd(unit, n, Cast(args(2), TimestampType))
  }

  /** arrayAUCPR(scores, labels) — right-Riemann PR AUC
    * (arrayAUC.cpp:118-124): walk score-DESC pairs with a (tp, fp, area)
    * accumulator; each positive adds precision-at-that-point; finish with
    * area / total-positives (recall steps are 1/P with distinct scores).
    * NULL when the labels are single-class, like the ROC form. */
  private def aucPr(scores: Expression, labels: Expression): Expression = {
    val s = lv("ch_pr_s"); val l = lv("ch_pr_l")
    val pairsAsc = SortArray(
      ZipWith(Cast(scores, ArrayType(DoubleType)),
        Cast(labels, ArrayType(DoubleType)),
        LambdaFunction(
          CreateNamedStruct(Seq(Literal("s"), s, Literal("l"), l)),
          Seq(s, l))),
      Literal(true))
    val labsDesc = Reverse(ArrayTransform(pairsAsc,
      { val p = NamedLambdaVariable("ch_pr_p",
          StructType(Seq(StructField("s", DoubleType), StructField("l", DoubleType))),
          nullable = true)
        LambdaFunction(UnresolvedExtractValue(p, Literal("l")), Seq(p)) }))
    val accType = StructType(Seq(StructField("tp", DoubleType),
      StructField("fp", DoubleType), StructField("area", DoubleType)))
    val acc = NamedLambdaVariable("ch_pr_acc", accType, nullable = true)
    val x = lv("ch_pr_x")
    def f(n: String) = UnresolvedExtractValue(acc, Literal(n))
    val step = LambdaFunction(
      If(GreaterThan(x, Literal(0.0d)),
        CreateNamedStruct(Seq(
          Literal("tp"), Add(f("tp"), Literal(1.0d)),
          Literal("fp"), f("fp"),
          Literal("area"), Add(f("area"),
            Divide(Add(f("tp"), Literal(1.0d)),
              Add(Add(f("tp"), Literal(1.0d)), f("fp")))))),
        CreateNamedStruct(Seq(
          Literal("tp"), f("tp"),
          Literal("fp"), Add(f("fp"), Literal(1.0d)),
          Literal("area"), f("area")))),
      Seq(acc, x))
    val fin = LambdaFunction(
      If(LessThanOrEqual(f("tp"), Literal(0.0d)),
        Literal.create(null, DoubleType),
        Divide(f("area"), f("tp"))),
      Seq(acc))
    ArrayAggregate(labsDesc,
      CreateNamedStruct(Seq(Literal("tp"), Literal(0.0d),
        Literal("fp"), Literal(0.0d), Literal("area"), Literal(0.0d))),
      step, fin)
  }

  val builders: Map[String, Seq[Expression] => Expression] = Map(

    // ---- AUC variants (arrayAUC.cpp) ----------------------------------
    // arrayROCAUC is the canonical name, arrayAUC the compat alias
    // (arrayAUC.cpp:496) — we registered the alias first, so the canonical
    // name points at the same builder.
    "arrayrocauc" -> (args => ChRegistryArrays.builders("arrayauc")(args.take(2))),
    "arrayaucpr" -> (args => aucPr(args(0), args(1))),

    // ---- timezone surface ---------------------------------------------
    // The engine pins the session to UTC (every SparkSession here sets
    // spark.sql.session.timeZone) and timestamps are tz-agnostic epochs,
    // exactly the reference's DateTime model: toTimezone changes display
    // metadata only (toTimezone.cpp), so it is value-identity.
    "totimezone" -> (args => Cast(args.head, TimestampType)),
    "timezone" -> (_ => CurrentTimeZone()),
    "timezoneof" -> (_ => CurrentTimeZone()),
    "servertimezone" -> (_ => CurrentTimeZone()),

    // ---- date arithmetic *Sub twins (dateAdd.cpp family; the Add forms
    //      are Spark builtins with the identical unquoted-unit shape) ----
    "datesub" -> (args => dateArith(args, -1)),
    "timestampsub" -> (args => dateArith(args, -1)),
    // DateTime64(6) carrier: nanosecond truncation is the identity at the
    // engine-wide microsecond precision cap (toStartOfSubsecond family)
    "tostartofnanosecond" -> (args => Cast(args.head, TimestampType)),
    // now() is already block-constant in Spark's execution model
    // (CurrentTimestamp folds once per query) — nowInBlock.cpp's
    // per-block re-evaluation has no observable analog here
    "nowinblock" -> (_ => CurrentTimestamp()),

    // ---- server/block introspection (serverConstants.cpp,
    //      blockNumber.cpp, rowNumberInBlock.cpp) ------------------------
    "hostname" -> (_ =>
      Literal(java.net.InetAddress.getLocalHost.getHostName)),
    // Spark's monotonically_increasing_id is (partitionId << 33 | record#)
    // — the exact block/row decomposition the reference's trio exposes,
    // with partition = block
    "blocknumber" -> (_ => Cast(SparkPartitionID(), LongType)),
    "rownumberinblock" -> (_ =>
      BitwiseAnd(MonotonicallyIncreasingID(), Literal((1L << 33) - 1))),
    "rownumberinallblocks" -> (_ => MonotonicallyIncreasingID()),

    // ---- aggregate tail (registerAggregateFunctions.cpp order) --------
    // uniqCombined64 (uniqCombined.cpp:64-bit variant): same HLL++
    // estimator carrier as uniqCombined here
    "uniqcombined64" -> (args => HyperLogLogPlusPlus(args.head)),
    // singleValueOrNull.cpp: the lone value of the group, NULL once a
    // second distinct value appears
    "singlevalueornull" -> (args => If(
      EqualTo(AggregateExpression(Count(Seq(args.head)), Complete,
        isDistinct = true), Literal(1L)),
      AggregateExpression(Min(args.head), Complete, isDistinct = false),
      Literal.create(null, NullType))),
    // groupArrayLast(n)(x) (groupArray.cpp last_size form): the last n
    // buffer values — negative-start slice of the collected array (same
    // insertion-order caveat as groupArray itself)
    "grouparraylast" -> (args => {
      val n = Cast(args(1), IntegerType)
      Slice(AggregateExpression(CollectList(args.head), Complete,
        isDistinct = false), UnaryMinus(n), n)
    }),
    // groupArraySample(n)(x) (groupArraySample.cpp reservoir): rendered
    // as the xxhash64-ordered prefix — a deterministic uniform sample
    // (the reference's seeded reservoir is likewise pseudo-random; the
    // hash order makes ours reproducible across runs and engines given
    // the same values)
    "grouparraysample" -> (args => {
      val n = Cast(args(1), IntegerType)
      val lst = AggregateExpression(CollectList(args.head), Complete,
        isDistinct = false)
      val v1 = UnresolvedNamedLambdaVariable(Seq("ch_gs_a"))
      val toKeyed = LambdaFunction(
        CreateNamedStruct(Seq(Literal("h"), XxHash64(Seq(v1), 42L),
          Literal("v"), v1)), Seq(v1))
      val v2 = UnresolvedNamedLambdaVariable(Seq("ch_gs_b"))
      val unkey = LambdaFunction(
        UnresolvedExtractValue(v2, Literal("v")), Seq(v2))
      ArrayTransform(
        Slice(SortArray(ArrayTransform(lst, toKeyed), Literal(true)),
          Literal(1), n),
        unkey)
    }),
    // groupArrayMovingSum/Avg (groupArrayMoving.cpp, no-window form):
    // running prefix sums over the group's collected values — O(n²)
    // interpreted folds, acceptable at group granularity (the reference
    // evaluates per-group state the same way)
    "grouparraymovingsum" -> (args => {
      val lst = AggregateExpression(
        CollectList(Cast(args.head, DoubleType)), Complete,
        isDistinct = false)
      val i = UnresolvedNamedLambdaVariable(Seq("ch_ms_i"))
      val a = UnresolvedNamedLambdaVariable(Seq("ch_ms_a"))
      val b = UnresolvedNamedLambdaVariable(Seq("ch_ms_b"))
      ArrayTransform(
        Sequence(Literal(1), Size(lst), None),
        LambdaFunction(
          ArrayAggregate(Slice(lst, Literal(1), i), Literal(0.0d),
            LambdaFunction(Add(a, b), Seq(a, b)),
            LambdaFunction.identity),
          Seq(i)))
    }),
    "grouparraymovingavg" -> (args => {
      val lst = AggregateExpression(
        CollectList(Cast(args.head, DoubleType)), Complete,
        isDistinct = false)
      val i = UnresolvedNamedLambdaVariable(Seq("ch_ma_i"))
      val a = UnresolvedNamedLambdaVariable(Seq("ch_ma_a"))
      val b = UnresolvedNamedLambdaVariable(Seq("ch_ma_b"))
      ArrayTransform(
        Sequence(Literal(1), Size(lst), None),
        LambdaFunction(
          Divide(
            ArrayAggregate(Slice(lst, Literal(1), i), Literal(0.0d),
              LambdaFunction(Add(a, b), Seq(a, b)),
              LambdaFunction.identity),
            Cast(i, DoubleType)),
          Seq(i)))
    }),
    // corrMatrix / covarSampMatrix / covarPopMatrix
    // (AggregateFunctionCorrMatrix.cpp family): the N×N pairwise matrix
    // as array(array(double)) — N is the call arity, so the tree is a
    // static composition of the pairwise aggregates
    "corrmatrix" -> (args => matrixOf(args, (a, b) =>
      AggregateExpression(Corr(a, b), Complete, isDistinct = false))),
    "covarsampmatrix" -> (args => matrixOf(args, (a, b) =>
      AggregateExpression(CovSample(a, b), Complete, isDistinct = false))),
    "covarpopmatrix" -> (args => matrixOf(args, (a, b) =>
      AggregateExpression(CovPopulation(a, b), Complete, isDistinct = false))),

    // ---- query-log normalization (normalizeQuery.cpp over
    //      Parsers/queryNormalization.cpp); the hash form is an xxhash64
    //      of the normalized text — name-compatible, NOT value-compatible
    //      with the reference's SipHash token stream (engine-wide policy
    //      for hash stand-ins: never pin values) ------------------------
    // ---- SimHash/MinHash scalar family + sipHash128 + bitSlice + soundex
    //      (FunctionsStringHash.cpp, FunctionsHashing.h sipHash128,
    //      bitSlice.cpp, soundex.cpp). Sim/min hashes follow the
    //      engine-wide stand-in policy (name-compatible, never
    //      value-pinned); soundex IS the standard algorithm → Spark's
    //      SoundEx is value-compatible. --------------------------------
    "ngramsimhash" -> (args => StaticInvoke(hkCls, LongType, "ngramSimHash",
      Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType))),
    "ngramsimhashcaseinsensitive" -> (args => StaticInvoke(hkCls, LongType,
      "ngramSimHashCI", Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType))),
    "ngramsimhashutf8" -> (args => StaticInvoke(hkCls, LongType, "ngramSimHash",
      Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType))),
    "wordshinglesimhash" -> (args => StaticInvoke(hkCls, LongType,
      "wordShingleSimHash", Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType))),
    "wordshinglesimhashcaseinsensitive" -> (args => StaticInvoke(hkCls, LongType,
      "wordShingleSimHashCI", Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType))),
    "wordshinglesimhashutf8" -> (args => StaticInvoke(hkCls, LongType,
      "wordShingleSimHash", Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType))),
    "ngramminhash" -> (args => CreateStruct(Seq(
      StaticInvoke(hkCls, LongType, "ngramMinHashA",
        Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType)),
      StaticInvoke(hkCls, LongType, "ngramMinHashB",
        Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType))))),
    "wordshingleminhash" -> (args => CreateStruct(Seq(
      StaticInvoke(hkCls, LongType, "wordShingleMinHashA",
        Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType)),
      StaticInvoke(hkCls, LongType, "wordShingleMinHashB",
        Seq(args.head, argOr(args, 1, 3)), Seq(StringType, IntegerType))))),
    "bitslice" -> (args => StaticInvoke(hkCls, BinaryType, "bitSlice",
      Seq(Cast(args(0), BinaryType), Cast(args(1), IntegerType),
        Cast(args(2), IntegerType)),
      Seq(BinaryType, IntegerType, IntegerType))),
    // (soundex deliberately NOT registered: Spark's builtin IS the
    // standard algorithm — value-identical to the reference's soundex.cpp
    // — and the registry policy is to skip builtins with CH-identical
    // semantics; pinned in ChRegistrySpec + q_fn_simhash_family.)
    "normalizequery" -> (args => StaticInvoke(qnCls, StringType,
      "normalizeQuery", args.take(1), Seq(StringType))),
    "normalizequerykeepnames" -> (args => StaticInvoke(qnCls, StringType,
      "normalizeQueryKeepNames", args.take(1), Seq(StringType))),
    "normalizedqueryhash" -> (args => XxHash64(Seq(
      StaticInvoke(qnCls, StringType, "normalizeQuery", args.take(1),
        Seq(StringType))), 42L)),
    "normalizedqueryhashkeepnames" -> (args => XxHash64(Seq(
      StaticInvoke(qnCls, StringType, "normalizeQueryKeepNames",
        args.take(1), Seq(StringType))), 42L)),

    // ---- map/array tail ----------------------------------------------
    // mapPopulateSeries (mapPopulateSeries.cpp): fill integer key gaps
    // min..max with zero values
    "mappopulateseries" -> (args => {
      val m = args.head
      val ks = Sequence(
        ArrayMin(MapKeys(m)), ArrayMax(MapKeys(m)), None)
      val k = UnresolvedNamedLambdaVariable(Seq("ch_mps_k"))
      MapFromArrays(ks,
        ArrayTransform(ks, LambdaFunction(
          Coalesce(Seq(ElementAt(m, k), Literal(0))), Seq(k))))
    }),
    // arrayShuffle / arrayPartialShuffle / arrayRandomSample
    // (arrayShuffle.cpp, arrayRandomSample.cpp): fixed-seed Shuffle — a
    // deterministic instance of the "unspecified order" contract
    "arrayshuffle" -> (args => Shuffle(args.head, Some(42L))),
    "arraypartialshuffle" -> (args => Shuffle(args.head, Some(42L))),
    "arrayrandomsample" -> (args =>
      Slice(Shuffle(args.head, Some(42L)), Literal(1),
        Cast(args(1), IntegerType))),

    // ---- encryption (encrypt.cpp / aes_encrypt_mysql.cpp) -------------
    // CH mode strings 'aes-<bits>-<mode>' ride Spark's AES expressions.
    // ECB is BYTE-compatible with the reference (same PKCS7 padding);
    // CBC/GCM are roundtrip-compatible only — Spark generates and
    // prepends a random IV, where the reference uses the caller's iv
    // argument verbatim (documented carrier deviation; the battery pins
    // the ECB bytes against an openssl vector and roundtrips the rest).
    "encrypt" -> (args => AesEncrypt(
      Cast(args(1), BinaryType), Cast(args(2), BinaryType),
      aesModeOf(args(0)), Literal("DEFAULT"),
      Literal(Array.emptyByteArray, BinaryType),
      Literal(Array.emptyByteArray, BinaryType))),
    "decrypt" -> (args => AesDecrypt(
      Cast(args(1), BinaryType), Cast(args(2), BinaryType),
      aesModeOf(args(0)), Literal("DEFAULT"),
      Literal(Array.emptyByteArray, BinaryType))),
    "trydecrypt" -> (args => new TryAesDecrypt(
      Cast(args(1), BinaryType), Cast(args(2), BinaryType),
      aesModeOf(args(0)), Literal("DEFAULT"),
      Literal(Array.emptyByteArray, BinaryType))),
    // MySQL-compat twins (aes_encrypt_mysql.cpp): same carrier; the
    // reference's long-key XOR folding is not reproduced — keys must be
    // exact length, failing loudly instead of silently folding
    "aes_encrypt_mysql" -> (args => AesEncrypt(
      Cast(args(1), BinaryType), Cast(args(2), BinaryType),
      aesModeOf(args(0)), Literal("DEFAULT"),
      Literal(Array.emptyByteArray, BinaryType),
      Literal(Array.emptyByteArray, BinaryType))),
    "aes_decrypt_mysql" -> (args => AesDecrypt(
      Cast(args(1), BinaryType), Cast(args(2), BinaryType),
      aesModeOf(args(0)), Literal("DEFAULT"),
      Literal(Array.emptyByteArray, BinaryType))),

    // ---- -SimpleState combinator + quantile plural tail ---------------
    // SimpleAggregateFunction's carrier IS the plain value
    // (DataTypeCustomSimpleAggregateFunction), so the -SimpleState forms
    // of simple aggregates alias the aggregates themselves
    "minsimplestate" -> (args => Min(args.head)),
    "maxsimplestate" -> (args => Max(args.head)),
    "sumsimplestate" -> (args => Sum(args.head)),
    "medianexact" -> (args => new Percentile(args.head, Literal(0.5))),
    // plural discrete-quantile forms (AggregateFunctionQuantileExact*.cpp)
    "quantilesexactlow" -> (args => CreateArray(args.tail.map(p =>
      AggregateExpression(PercentileDisc(args.head, p), Complete,
        isDistinct = false): Expression))),
    "quantilesexacthigh" -> (args => CreateArray(args.tail.map(p =>
      AggregateExpression(
        PercentileDisc(args.head, Subtract(Literal(1.0d), p), reverse = true),
        Complete, isDistinct = false): Expression))),

    // ---- misc introspection -------------------------------------------
    // isConstant (isConstant.cpp): constant-foldability of the argument
    "isconstant" -> (args => Literal(if (args.head.foldable) 1 else 0)),
    // defaultValueOfTypeName (defaultValueOfTypeName.cpp): the zero value
    // of a literal type name
    "defaultvalueoftypename" -> (args => {
      val t = litString(args.head, "defaultValueOfTypeName").toLowerCase
      if (t.startsWith("string") || t.startsWith("fixedstring")) Literal("")
      else if (t.startsWith("float")) Literal(0.0d)
      else if (t.startsWith("date")) Cast(Literal("1970-01-01"), DateType)
      else if (t.startsWith("uint") || t.startsWith("int")) Literal(0L)
      else throw new IllegalArgumentException(
        s"defaultValueOfTypeName: unsupported type '$t'")
    })
  )
}
