package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration of graft's custom Catalyst expressions, optimizer rules
  * and planner strategy.
  *
  * One path: `spark.sql.extensions=graft.functions.GraftExtensions`, the
  * idiomatic [[SparkSessionExtensions]] route. Every session built by
  * [[graft.engine.Engine.localSession]] carries it, and sessions cloned
  * with `newSession()` (the server's tenants) inherit it.
  * [[register]] installs nothing; it only checks that a session was
  * built with the extensions.
  *
  * The reference's equivalent surface is the chsql extension auto-load
  * (`/root/reference/main.py:83-86`) — engine-level function registration at
  * connection time.
  */
object GraftFunctions {

  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", "cosine similarity of two float arrays",
      args => CosineSim(args(0), args(1))),
    ("simhash64", "64-bit simhash of a token array",
      args => SimHash64(args(0))),
    ("simhash_md5", "portable 60-bit simhash (md5 token hashes, SQL-reproducible)",
      args => SimHashMd5(args(0))),
    ("minhash_sig", "minhash signature (array<bigint>) of a shingle array",
      args => MinHashSig(args(0),
        args(1).eval().asInstanceOf[Number].intValue())),
    ("minhash_tokens_sig", "minhash signature from a token array with n-token windows",
      args => MinHashTokensSig(args(0),
        args(1).eval().asInstanceOf[Number].intValue(),
        args(2).eval().asInstanceOf[Number].intValue())),
    ("hyperplane_sig", "random-hyperplane LSH signature (bigint) of a float array",
      args => HyperplaneSig(args(0),
        args(1).eval().asInstanceOf[Number].intValue())),
    ("token_window_hashes", "distinct 64-bit shingle-window hashes of a token array",
      args => TokenWindowHashes(args(0),
        args(1).eval().asInstanceOf[Number].intValue())),
    ("minhash_from_hashes", "minhash signature from precomputed 64-bit window hashes",
      args => MinHashFromHashes(args(0),
        args(1).eval().asInstanceOf[Number].intValue())),
    ("bpe_token_count", "count of BPE-ish pre-tokens (letter/digit/punct runs)",
      args => BpeTokenCount(args(0))),
    ("regexp_replace_first", "first-match-only regexp_replace (DuckDB 3-arg semantics)",
      args => RegexpReplaceFirst(args(0), args(1), args(2))),
    ("quant_dot", "integer dot product of array<float> against a pre-quantized array<bigint>",
      args => QuantDot(args(0), args(1))),
    ("centroid_argmax", "argmax-cosine centroid id of array<float> against a flat row-major centroid matrix",
      args => CentroidArgmax(args(0), args(1),
        args(2).eval().asInstanceOf[Number].intValue())),
    ("graft_upper", "DuckDB-parity simple (1:1 codepoint) uppercase",
      args => GraftUpper(args(0))),
    ("graft_lower", "DuckDB-parity simple (1:1 codepoint) lowercase",
      args => GraftLower(args(0))),
    ("quant_cos_micro", "integer-exact cosine (micro-units) of array<float> against a pre-quantized array<bigint>",
      args => QuantCosMicro(args(0), args(1))),
    ("strip_to_alnum_space", "trim(regexp_replace(s,'[^a-z0-9 ]','')) as one byte scan",
      args => StripToAlnumSpace(args(0))),
    ("token_set_hits", "array<int>: whitespace token count + per-wordset membership counts",
      args => TokenSetHits(args(0), args.tail.map(a =>
        a.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toArray[org.apache.spark.unsafe.types.UTF8String](
            org.apache.spark.sql.types.StringType).toSeq.map(_.toString)))),
    ("ascii_char_count", "count of characters from an ASCII class — length(s)-length(regexp_replace(s,class,''))",
      args => AsciiCharCount(args(0),
        args(1).eval().asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)),
    ("pii_scrub", "array(scrubbed, n_email, n_phone) — linear-scan email/phone redaction",
      args => PiiScrub(args(0))),
    ("dup_gram_stats", "array(n_grams, n_distinct) of word 2-grams in one byte scan",
      args => DupGramStats(args(0))),
    ("token_hashes", "array<bigint>: 64-bit hash per whitespace token, in order, one byte scan",
      args => TokenHashes(args(0))),
    ("token_counts", "array<struct<term,cnt>>: per-distinct-token frequencies, first-occurrence order, one byte scan",
      args => TokenCounts(args(0))),
    ("byte_shingle_simhash", "portable 60-bit simhash over sliding byte n-gram shingles of a binary payload",
      args => ByteShingleSimhash(args(0),
        args(1).eval().asInstanceOf[Number].intValue())),
    ("remove_token_positions", "drop the listed 0-based token positions and re-join with single spaces, one byte scan",
      args => RemoveTokenPositions(args(0), args(1))),
    ("remove_token_spans", "drop every token covered by a k-window at the listed sorted starts, one byte scan",
      args => RemoveTokenSpans(args(0), args(1), args(2))),
    ("window_md5s", "array<binary>: raw md5 of every k-token sliding window, one byte scan",
      args => WindowMd5s(args(0),
        args(1).eval().asInstanceOf[Number].intValue())),
    ("chunk_windows", "array<string>: sliding token windows (window, stride) rebuilt as single-space strings, one byte scan",
      args => ChunkWindows(args(0),
        args(1).eval().asInstanceOf[Number].intValue(),
        args(2).eval().asInstanceOf[Number].intValue())),
    ("graft_list_distinct", "DuckDB list_distinct/array_distinct: distinct NON-NULL elements, first-occurrence order",
      args => org.apache.spark.sql.catalyst.expressions.ArrayDistinct(
        new org.apache.spark.sql.catalyst.expressions.ArrayCompact(args(0)))),
    ("damerau_levenshtein", "true (unrestricted) Damerau-Levenshtein distance over UTF-8 BYTES (duck semantics, r14)",
      args => DamerauLevenshtein(args(0), args(1))),
    ("jaro_similarity", "Jaro similarity over UTF-8 BYTES (0.0 when either side empty)",
      args => JaroSimilarity(args(0), args(1))),
    ("jaro_winkler_similarity", "Jaro-Winkler over UTF-8 BYTES (prefix cap 4, boost above 0.7)",
      args => JaroWinklerSimilarity(args(0), args(1))),
    ("graft_levenshtein", "duck's levenshtein/editdist3: classic DP over UTF-8 BYTES (Spark's builtin counts chars — diverges on every non-ASCII input, r14 str fuzz)",
      args => GraftLevenshtein(args(0), args(1))),
    ("graft_mismatches", "duck's mismatches/hamming: positionwise differing-BYTE count; NULL on unequal byte lengths (duck errors there)",
      args => MismatchesExpr(args(0), args(1))),
    ("graft_reverse", "duck's reverse over VARCHAR: grapheme-cluster reversal (combining marks stay on their base)",
      args => GraphemeReverseExpr(args(0))),
    ("graft_len", "duck's len()/length(): TYPE-dispatched — chars for strings, bytes for blobs, element count for lists/maps (the lambda-variable case shape scans cannot classify)",
      args => LenDispatchExpr(args(0))),
    ("gcd", "integer gcd, absolute-value semantics",
      args => GcdExpr(args(0), args(1))),
    ("gamma", "DuckDB gamma(x): exact for integer args, Lanczos otherwise; zero/negative-integer errors loudly",
      args => GammaExpr(args(0))),
    ("lgamma", "DuckDB lgamma(x): ln|gamma|, reflection below 0.5; pole args error loudly",
      args => LgammaExpr(args(0))),
    ("graft_bit_count", "DuckDB bit_count: set bits within the value's TYPE width (tinyint=8, not 64)",
      args => BitCountWidth(args(0))),
    ("graft_typeof", "DuckDB typeof(): duck-spelled type name of the argument, folded at analysis",
      args => DuckTypeOf(args(0))),
    ("graft_json_structure", "DuckDB json_structure(): recursive type sketch; arrays merge element structures",
      args => JsonStructureExpr(args(0))),
    ("graft_json_contains", "DuckDB json_contains(haystack, needle): needle found anywhere, subset object matches",
      args => JsonContainsExpr(args(0), args(1))),
    ("graft_json_merge_patch", "DuckDB json_merge_patch(): RFC 7386; NULL target = absent, NULL patch = NULL",
      args => JsonMergePatchExpr(args(0), args(1))),
    ("graft_url_canon", "URL canonicalization: fragment/default-port/utm strip, lowercase scheme+host, sorted query params",
      args => UrlCanonicalize(args(0))),
    ("graft_sign", "DuckDB sign(): INTEGER -1/0/1, sign(NaN) = 0",
      args => SignExpr(args(0))),
    ("graft_abs", "DuckDB abs() with literal-typing parity: BYTE/SHORT/INT widen one step so the type-min is representable; LONG min errors loudly",
      args => AbsWidthExpr(args(0))),
    ("graft_strftime", "runtime DuckDB strftime for DYNAMIC %-patterns (literal patterns translate at rewrite time)",
      args => StrftimeDynExpr(args(0), args(1))),
    ("graft_strptime", "runtime DuckDB strptime for DYNAMIC %-patterns: lenient widths, %p on %H, %f=integer micros, ISO/C week grids; parse failure throws",
      args => StrptimeDynExpr(args(0), args(1), tryMode = false)),
    ("graft_strptime_try", "try_strptime flavor: NULL on parse failure or out-of-range date; bad format specifiers still throw",
      args => StrptimeDynExpr(args(0), args(1), tryMode = true)),
    ("graft_intdiv", "DuckDB // operator: trunc-toward-zero long division for integral pairs, plain double division otherwise, NULL on zero divisor",
      args => IntDivExpr(args(0), args(1))),
    ("graft_intdiv_exact", "DuckDB // over HUGEINT-spelled operands: exact INT128-style trunc division at DECIMAL(38,0); double fallback when a fractional operand shows the slice was not hugeint//hugeint",
      args => IntDivExactExpr(args(0), args(1))),
    ("graft_dec_cast", "DuckDB CAST to DECIMAL(p,s) by INPUT type: decimal downscale truncates toward zero, double renders to its shortest string and parses half-away (the 1.0.0 replica's epsilon model under spark.graft.replicaMode), string half-away; out-of-range errors",
      args => DecCastExpr(args(0),
        args(1).eval().asInstanceOf[Number].intValue(),
        args(2).eval().asInstanceOf[Number].intValue(), tryMode = false,
        fpMode = DecCast.fpCastMode)),
    ("graft_dec_cast_try", "graft_dec_cast's TRY twin: NULL on out-of-range / unparseable / NaN / inf",
      args => DecCastExpr(args(0),
        args(1).eval().asInstanceOf[Number].intValue(),
        args(2).eval().asInstanceOf[Number].intValue(), tryMode = true,
        fpMode = DecCast.fpCastMode)),
    ("graft_list_sort", "DuckDB list_sort/array_sort/list_reverse_sort: elements by the NULL-HIGH total order (inner NULLs rank above every value — Spark sorts them below), top-level NULL entries placed by the NULLS FIRST/LAST flag",
      args => ListSortExpr(args(0),
        args(1).eval().asInstanceOf[Boolean],
        args(2).eval().asInstanceOf[Boolean])),
    ("graft_double_str", "DuckDB DOUBLE/FLOAT -> VARCHAR rendering: shortest digits, plain notation in exp [-4,15], e+NN outside",
      args => DoubleStrExpr(args(0))),
    ("graft_floor_dbl", "DuckDB floor() over doubles: DOUBLE result (Spark's LONG renders '-3' where duck renders '-3.0')",
      args => FloorCeilDblExpr(args(0), isCeil = false)),
    ("graft_ceil_dbl", "DuckDB ceil() over doubles: DOUBLE result",
      args => FloorCeilDblExpr(args(0), isCeil = true)),
    ("graft_round_dbl", "DuckDB round() over doubles: std::round(x*10^n)/10^n half-away on the FP product; overflow/NaN -> input (positive n) or 0 (negative n)",
      args => RoundDblExpr(args(0),
        if (args.length > 1) args(1)
        else org.apache.spark.sql.catalyst.expressions.Literal(0))),
    ("graft_dow", "DuckDB day-of-week: 0=Sunday..6=Saturday over timestamp/date (every SQL spelling is a re-capture trap)",
      args => GraftDowExpr(args(0))),
    ("graft_epoch_us", "micros since epoch for timestamp/date/interval (duck conventions: 30-day-month YM intervals)",
      args => GraftEpochUsExpr(args(0))),
    ("graft_str_index", "DuckDB VARCHAR subscript: 1-based chars, negative from-end, out-of-range → ''",
      args => StrIndexExpr(args(0), args(1))),
    ("graft_str_slice", "DuckDB VARCHAR slice: inclusive 1-based char bounds, clamped, crossed → ''; Long.MaxValue end = open",
      args => StrSliceExpr(args(0), args(1), args(2))),
    ("graft_int_round", "DuckDB int-cast rounding by INPUT type: double/float half-even, decimal/string half-away; loud on bad input",
      args => IntRoundExpr(args(0), tryMode = false)),
    ("graft_int_round_try", "graft_int_round's TRY twin: NULL on unparseable strings / NaN / inf",
      args => IntRoundExpr(args(0), tryMode = true)),
    ("lcm", "integer lcm, absolute-value semantics, 0 when either arg is 0",
      args => LcmExpr(args(0), args(1))),
    // population-moment aggregates under graft names so the translator's
    // sample-statistics conversion (SKEWNESS/KURTOSIS → G1/G2 formulas)
    // cannot re-match its own output in the fixpoint loop (the
    // graft_list_distinct precedent)
    ("graft_skewness_g1", "Spark population skewness g1 under a non-colliding name",
      args => org.apache.spark.sql.catalyst.expressions.aggregate.Skewness(args(0))),
    ("graft_kurtosis_g2", "Spark population excess kurtosis g2 under a non-colliding name",
      args => org.apache.spark.sql.catalyst.expressions.aggregate.Kurtosis(args(0))),
    ("char_entropy", "per-string Shannon entropy (bits) over UTF-8 bytes, one byte scan",
      args => CharEntropy(args(0))),
    ("strip_accents", "DuckDB strip_accents: NFD + combining-mark removal (ASCII fast path)",
      args => StripAccents(args(0))),
    ("nfc_normalize", "DuckDB nfc_normalize: unicode canonical composition (ASCII fast path)",
      args => NfcNormalize(args(0))),
    ("graft_chr", "DuckDB chr: full Unicode codepoint (Spark's chr cuts to 256)",
      args => ChrCodepoint(args(0))),
    ("graft_struct_insert", "DuckDB struct_insert: append/replace one struct field (chained for multiple)",
      args => org.apache.spark.sql.catalyst.expressions.UpdateFields(
        args(0),
        args(1).eval().asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString,
        args(2))),
    ("nextval", "DuckDB nextval('seq'): per-row sequence advance (JVM-session state)",
      args => NextVal(args(0))),
    ("currval", "DuckDB currval('seq'): last value handed out by this session",
      args => CurrVal(args(0))),
    ("current_setting", "DuckDB current_setting('key'): session conf read (VARCHAR; unknown keys loud)",
      args =>
        // literal key → resolved at PLAN time on the driver (where our SET
        // statement wrote it; arbitrary keys don't survive the task-side
        // SQLConf clone); dynamic keys fall back to the runtime expression
        if (args(0).foldable) {
          val key = args(0).eval()
            .asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
          val conf = org.apache.spark.sql.SparkSession.active.conf
          val v0 = try conf.get(key) catch {
            case _: java.util.NoSuchElementException =>
              throw new IllegalStateException(
                s"""unrecognized configuration parameter "$key"""")
          }
          // Spark's SET stores `x = '2GB'` quotes-and-all; DuckDB's
          // current_setting returns the unquoted value
          val v = if (v0.length >= 2 && v0.startsWith("'") && v0.endsWith("'"))
            v0.substring(1, v0.length - 1) else v0
          org.apache.spark.sql.catalyst.expressions.Literal.create(
            v, org.apache.spark.sql.types.StringType)
        } else CurrentSetting(args(0))),
    ("graft_product", "DuckDB product aggregate: double multiply, NULLs skipped, empty group NULL",
      args => GraftProduct(org.apache.spark.sql.catalyst.expressions.Cast(
        args(0), org.apache.spark.sql.types.DoubleType))),
    ("graft_entropy", "DuckDB entropy aggregate: Shannon bits over value frequencies, empty group 0.0",
      args => GraftEntropy(args(0))),
    ("graft_histogram", "DuckDB histogram aggregate: MAP(value -> count), keys ascending, empty group NULL",
      args => GraftHistogram(args(0))),
    ("graft_mad", "DuckDB mad aggregate: interpolated median absolute deviation",
      args => GraftMad(org.apache.spark.sql.catalyst.expressions.Cast(
        args(0), org.apache.spark.sql.types.DoubleType))),
    ("graft_bar", "DuckDB bar(x, min, max[, width=80]): unicode block bar, byte-length space pad",
      args => {
        def d(e: Expression) = org.apache.spark.sql.catalyst.expressions.Cast(
          e, org.apache.spark.sql.types.DoubleType)
        val w = if (args.length >= 4) d(args(3))
          else org.apache.spark.sql.catalyst.expressions.Literal(80.0)
        GraftBar(d(args(0)), d(args(1)), d(args(2)), w)
      }),
    ("graft_format_bytes", "DuckDB format_bytes: binary units, 1 truncated decimal, caps at PiB",
      args => GraftFormatBytes(org.apache.spark.sql.catalyst.expressions.Cast(
        args(0), org.apache.spark.sql.types.LongType))),
    ("graft_format_bytes_decimal", "DuckDB formatReadableDecimalSize: base-1000 units, 1 truncated decimal",
      args => GraftFormatBytesDecimal(org.apache.spark.sql.catalyst.expressions.Cast(
        args(0), org.apache.spark.sql.types.LongType))),
    ("graft_version", "engine version string",
      _ => org.apache.spark.sql.catalyst.expressions.Literal.create(
        "graft-spark 0.1.0", org.apache.spark.sql.types.StringType)),
  )

  /** Fails unless the session was built with [[GraftExtensions]]. Graft
    * installs its functions, rules and strategy only through
    * `spark.sql.extensions`: the resolution-time rules cannot be added to
    * a session after it is built. */
  def register(spark: SparkSession): Unit =
    requireExtensions(spark.conf.getOption("spark.sql.extensions"))

  /** Checks a `spark.sql.extensions` value (comma-separated class names). */
  def requireExtensions(conf: Option[String]): Unit = {
    val name = classOf[GraftExtensions].getName
    require(conf.exists(_.split(',').map(_.trim).contains(name)),
      s"spark.sql.extensions must name $name but is ${conf.getOrElse("unset")}; " +
        "build the session with graft.engine.Engine.localSession")
  }

  /** Column-API forms. */
  def cosine_sim(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("cosine_sim", a, b)
  def simhash64(tokens: Column): Column =
    org.apache.spark.sql.functions.call_function("simhash64", tokens)
  def simhash_md5(tokens: Column): Column =
    org.apache.spark.sql.functions.call_function("simhash_md5", tokens)
  def minhash_sig(shingles: Column, numHashes: Int): Column =
    org.apache.spark.sql.functions.call_function("minhash_sig", shingles,
      org.apache.spark.sql.functions.lit(numHashes))
  def minhash_tokens_sig(tokens: Column, width: Int, numHashes: Int): Column =
    org.apache.spark.sql.functions.call_function("minhash_tokens_sig", tokens,
      org.apache.spark.sql.functions.lit(width),
      org.apache.spark.sql.functions.lit(numHashes))
  def hyperplane_sig(vec: Column, planes: Int): Column =
    org.apache.spark.sql.functions.call_function("hyperplane_sig", vec,
      org.apache.spark.sql.functions.lit(planes))
  def token_window_hashes(tokens: Column, width: Int): Column =
    org.apache.spark.sql.functions.call_function("token_window_hashes", tokens,
      org.apache.spark.sql.functions.lit(width))
  def minhash_from_hashes(hashes: Column, numHashes: Int): Column =
    org.apache.spark.sql.functions.call_function("minhash_from_hashes", hashes,
      org.apache.spark.sql.functions.lit(numHashes))
  def centroid_argmax(vec: Column, cmat: Column, dim: Int): Column =
    org.apache.spark.sql.functions.call_function("centroid_argmax", vec, cmat,
      org.apache.spark.sql.functions.lit(dim))
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, usage, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.DateTruncToDateCast)
    // preCBO (Once), not the operator batch: ProjectAfterTopK moves a
    // Project ABOVE the limit, and the operator fixed-point's own project
    // push-down is its inverse. A later batch pushes the Project back onto
    // the narrowed Sort, and the planner turns that
    // GlobalLimit(LocalLimit(Project(Sort))) into TakeOrderedAndProject
    // with the deferred aliases in its project list
    ext.injectPreCBORule(_ => graft.plans.ProjectAfterTopK)
    // the served-sort planner (newSession() tenants inherit it)
    ext.injectPlannerStrategy(_ => graft.plans.SingleStreamStrategy)
    // resolution-time, not optimizer-time: coercion-inserted casts around
    // literal branches constant-fold before user optimizer rules run, and
    // the fold must bake DUCK semantics (trunc downscale, duck double
    // rendering) — r13 dec fuzz seed-21
    ext.injectResolutionRule(_ => graft.plans.DecDownscaleCast)
    ext.injectResolutionRule(_ => graft.plans.DoubleCastToDuckStr)
    ext.injectResolutionRule(_ => graft.plans.FloorCeilToDbl)
    // type-dispatched: string reverse → grapheme clusters (r14)
    ext.injectResolutionRule(_ => graft.plans.StringReverseGrapheme)
    // nested-type comparisons → duck's three-valued walk (r15); must
    // run at resolution so map compares rewrite before CheckAnalysis
    // refuses them and foldable nested compares fold with duck 3VL
    ext.injectResolutionRule(_ => graft.plans.NestedCompare)
  }
}
