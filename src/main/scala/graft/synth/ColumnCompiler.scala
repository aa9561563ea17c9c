package graft.synth

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.spec.{FieldSpec, SpecParser}
import graft.runtime.SeedData

/** The Catalyst fast path: compiles the STATELESS sampler subset to pure
  * Column expressions over `spark.range(n)` — fully whole-stage-codegen'd
  * generation, no interpreter, no RDD (SURVEY §7.3 "pure built-ins").
  *
  * Randomness is `u(field, id) = shiftrightunsigned(xxhash64(id, seed,
  * fieldSalt), 11) * 2^-53` — a deterministic uniform in [0,1) keyed by
  * (seed, field, row), so output is reproducible under ANY partitioning
  * (stronger than the interpreter path, whose streams are per-partition)
  * and re-plannable by AQE without changing results.
  *
  * Unsupported specs (stateful clocks, CRPs, simulations, flat
  * generators) return None and the caller falls back to the interpreter;
  * `Synth.dataFrameAuto` wires that up.
  */
object ColumnCompiler {

  private final case class Ctx(seed: Long, path: String, nativeFns: Boolean = false) {
    def child(p: String): Ctx = copy(path = s"$path/$p")
    def salt(extra: String = ""): Long =
      graft.runtime.Rng.mix2(seed, (path + extra).hashCode.toLong)
  }

  /** Deterministic uniform [0,1) for this field path and row id. */
  private def u(ctx: Ctx, extra: String = ""): Column =
    shiftrightunsigned(xxhash64(col("id"), lit(ctx.salt(extra))), 11) *
      lit(1.1102230246251565e-16)

  private def hashBits(ctx: Ctx, extra: String = ""): Column =
    xxhash64(col("id"), lit(ctx.salt(extra)))

  def supported(schemaJson: String): Boolean =
    try compileSchema(schemaJson, 42L).isDefined
    catch { case _: Exception => false }

  /** One compiled flat sequence: element field names, the zipped
    * array<struct> column, and whether the per-row array can be EMPTY
    * (variable length distributions) — empty arrays must DROP the
    * record, matching the interpreter's cross-product-with-empty-list
    * semantics, so the caller picks explode over explode_outer.
    */
  final case class FlatSeq(fields: Seq[String], arr: Column, mayBeEmpty: Boolean)

  /** A fast-path plan: scalar columns before/after at most one flat
    * sequence (an array of structs exploded into rows). The before/after
    * split preserves the interpreter's spec-order column layout.
    */
  final case class FastPlan(before: Seq[(String, Column)],
      flat: Option[FlatSeq], after: Seq[(String, Column)]) {
    def scalars: Seq[(String, Column)] = before ++ after
  }

  /** Compile a whole schema to (name, Column) pairs, or None if any field
    * needs the interpreter.
    */
  def compileSchema(schemaJson: String, seed: Long): Option[Seq[(String, Column)]] =
    compilePlan(schemaJson, seed).filter(_.flat.isEmpty).map(_.scalars)

  /** Full fast-path compile including flat sequences (cumulative
    * event/random-walk series as per-row prefix-sum arrays).
    *
    * `nativeFns`: the session has GraftExtensions installed, so the
    * compiler may emit graft's native expressions (`prefix_sum`) instead
    * of the O(n²) pure-built-in fallbacks. `Synth.dataFrameAuto`
    * auto-detects via `spark.catalog.functionExists`.
    */
  def compilePlan(schemaJson: String, seed: Long,
      nativeFns: Boolean = false): Option[FastPlan] = {
    val specs = SpecParser.parse(schemaJson)
    val before = Seq.newBuilder[(String, Column)]
    val after = Seq.newBuilder[(String, Column)]
    var flat: Option[FlatSeq] = None
    def out = if (flat.isEmpty) before else after
    for (f <- specs) {
      f.clazz match {
        case "flatten" =>
          val sub = f.node("value").map(SpecParser.parseField)
            .getOrElse(return None)
          val prefix = f.str("prefix").getOrElse(f.name.map(_ + "-").getOrElse(""))
          sub.clazz match {
            case "zip" | "gis" => // struct of known fields → prefixed columns
              val zc = zipColumns(Ctx(seed, prefix + "zip"), sub).getOrElse(return None)
              zc.foreach { case (n, c) => out += ((prefix + n, c)) }
            case _ => return None
          }
        case "sequence" if f.bool("flat").contains(true) =>
          if (flat.isDefined) return None // one flat generator max
          flat = Some(flatSequence(f, Ctx(seed, f.name.getOrElse("seq"), nativeFns))
            .getOrElse(return None))
        case _ =>
          val c = compile(f, Ctx(seed, f.name.getOrElse(f.clazz))).getOrElse(return None)
          out += ((f.name.getOrElse(f.clazz), c))
      }
    }
    Some(FastPlan(before.result(), flat, after.result()))
  }

  /** Per-row prefix-sum array: cumsum_i = sum of steps 1..i. With
    * GraftExtensions installed this is the native O(n) `prefix_sum`
    * expression (expr/PrefixSum.scala); without, an aggregate fold whose
    * `array_append` accumulator costs O(n²) element copies per row —
    * tolerable only for short series. Both accumulate in index order
    * with one double accumulator, so they are bit-identical.
    */
  private def prefixSum(ctx: Ctx, steps: Column): Column =
    if (ctx.nativeFns) call_function("prefix_sum", steps)
    else aggregate(steps,
      struct(lit(Array.emptyDoubleArray).as("a"), lit(0d).as("s")),
      (acc, g) => struct(
        array_append(acc.getField("a"), acc.getField("s") + g).as("a"),
        (acc.getField("s") + g).as("s")),
      acc => acc.getField("a"))

  /** Flat `sequence` of a `map` sub-schema: each sub-field becomes an
    * array of per-element values; cumulative samplers (event,
    * random-walk) become prefix sums of i.i.d. step arrays — the closed
    * column form of the interpreter's running clocks.
    *
    * Lengths: a literal length keeps the native `synth_series` lowering;
    * a `lengthDistribution` of class `int` (no dist/skew/format) or an
    * exponential default (`length` mean, the reference's
    * SequenceSampler default) compiles to a per-row hash-keyed length
    * column — the whole variable-length series stays on the fast path
    * (HOF lowering; native `prefix_sum` still applies). A length draw
    * of 0 yields an EMPTY array and the record is dropped on explode,
    * matching the interpreter's cross-product-with-empty-list
    * semantics.
    */
  private def flatSequence(f: FieldSpec, ctx: Ctx): Option[FlatSeq] = {
    import scala.jdk.CollectionConverters._
    // (literal n, per-row length column) — exactly one is set
    val (litN, lenCol): (Option[Int], Option[Column]) =
      f.node("lengthDistribution") match {
        case Some(nd) if nd.isNumber =>
          if (nd.asInt <= 0) return None // sequence(1, 0) is descending
          (Some(nd.asInt), None)
        case Some(nd) =>
          val ls = SpecParser.parseField(nd)
          ls.clazz match {
            case "int" | "integer" | "random-int"
                if ls.node("dist").isEmpty && ls.node("skew").isEmpty &&
                  ls.node("format").isEmpty =>
              val mn = ls.sizeLong("min").getOrElse(0L)
              val mx = ls.sizeLong("max").getOrElse(100L)
              if (mx > 4096 || mn < 0) return None // bound the per-row array
              (None, Some(floor(u(ctx, "#len") * (mx - mn) + mn).cast("int")))
            case _ => return None
          }
        case None =>
          // the reference's default: exponential length (mean `length`).
          // Means large enough that a tail draw could build an unbounded
          // per-row array stay on the interpreter.
          val mean = f.dbl("length").getOrElse(5.0)
          if (mean > 400) return None
          (None, Some(floor(log(u(ctx, "#len") + lit(1e-300)) * -mean).cast("int")))
      }
    val baseSpec = f.node("base").map(SpecParser.parseField).getOrElse(return None)
    if (baseSpec.clazz != "map") return None
    val subs = baseSpec.node("value").map { v =>
      (if (v.isArray) v.elements().asScala.toSeq else Seq(v)).map(SpecParser.parseField)
    }.getOrElse(return None)
    val n = litN.getOrElse(0) // native/unrolled paths need a literal n
    val idx = lenCol match {
      case None      => sequence(lit(1), lit(n))
      case Some(len) =>
        when(len >= 1, sequence(lit(1), len))
          .otherwise(array().cast("array<int>"))
    }
    // the native synth_series primitive takes a constant n; variable
    // lengths keep the HOF lowering (native prefix_sum still applies)
    val nativeOk = litN.isDefined
    // per-element uniform keyed by (seed, path, row id, element index)
    def uElem(c: Ctx, extra: String): Column => Column = i =>
      shiftrightunsigned(xxhash64(col("id"), lit(c.salt(extra)), i), 11) *
        lit(1.1102230246251565e-16)
    // Native series call (expr/SynthSeries.scala) when GraftExtensions
    // is installed: one codegen'd primitive loop per row instead of the
    // interpreted `transform` lambda chains below (HOF lambdas don't
    // codegen — measured 2-4× slower than the interpreter at 2M rows).
    // Both lowerings draw the identical keyed hash stream, so they
    // generate the same data.
    def native(c: Ctx, kind: String, sA: Long, sB: Long, p1: Double = 0.0,
        p2: Double = 0.0, p3: Double = 0.0, fm: String = ""): Column =
      call_function("synth_series", lit(kind), col("id"), lit(n),
        lit(sA), lit(sB), lit(p1), lit(p2), lit(p3), lit(fm))
    // date patterns the native java.time formatter renders identically
    // to Spark's date_format (plain y/M/d/H/m/s fields, no locale or
    // era-sensitive letters) — anything else keeps the built-in lowering
    def safePattern(p: String): Boolean =
      p == "s" || p == "Q" || p.matches("[yMdHmsTZ'\\-:. /]+")
    val arrays: Seq[(String, Column)] = subs.map { s =>
      val name = s.name.getOrElse(s.clazz)
      val c = ctx.child(name)
      val arr: Column = s.clazz match {
        case "event" =>
          val fmt = s.str("format").getOrElse("yyyy-MM-dd HH:mm:ss")
          val meanMs = s.str("rate").map(SpecParser.parseRateAsIntervalMs)
            .orElse(s.dbl("meanInterval")).getOrElse(1000.0)
          val start = s.str("start").map(graft.runtime.FancyTime(fmt).parseMillis)
            .getOrElse(1375315200000L)
          val pat = if (fmt == "iso") "yyyy-MM-dd'T'HH:mm:ss'Z'" else fmt
          if (ctx.nativeFns && nativeOk && safePattern(pat))
            native(c, "event", c.salt("#g"), 0L, start.toDouble, meanMs, 0.0, pat)
          else {
            val gaps = transform(idx, i => -log(uElem(c, "#g")(i) + lit(1e-300)) * meanMs)
            val arrivals = prefixSum(c, gaps)
            fmt match {
              case "s" => transform(arrivals, t =>
                ((lit(start) + t.cast("long")) / 1000L).cast("long").cast("string"))
              case "Q" => transform(arrivals, t => (lit(start) + t.cast("long")).cast("string"))
              case _ => transform(arrivals, t =>
                date_format(timestamp_millis(lit(start) + t.cast("long")), pat))
            }
          }
        case "random-walk" if !s.bool("verbose").contains(true) =>
          val start = s.dbl("start").getOrElse(0.0)
          val mean = s.dbl("mean").getOrElse(0.0)
          val sd = s.dbl("sd").orElse(s.dbl("variance").map(math.sqrt))
            .orElse(s.dbl("precision").map(p => 1.0 / math.sqrt(p))).getOrElse(1.0)
          if (ctx.nativeFns && nativeOk)
            native(c, "walk", c.salt("#a"), c.salt("#b"), start, mean, sd)
          else {
            val steps = transform(idx, i =>
              sqrt(log(uElem(c, "#a")(i) + lit(1e-300)) * -2.0) *
                cos(uElem(c, "#b")(i) * (2 * math.Pi)) * sd + mean)
            transform(prefixSum(c, steps), x => x + start)
          }
        case "int" | "integer" | "random-int"
            if s.node("dist").isEmpty && s.node("skew").isEmpty &&
              s.node("format").isEmpty =>
          val min = s.sizeLong("min").getOrElse(0L)
          val max = s.sizeLong("max").getOrElse(100L)
          if (ctx.nativeFns && nativeOk)
            native(c, "int", c.salt(), 0L, min.toDouble, max.toDouble)
          else transform(idx, i => floor(uElem(c, "")(i) * (max - min) + min).cast("long"))
        case "double" | "float"
            if s.node("dist").isEmpty && s.node("skew").isEmpty &&
              s.node("format").isEmpty =>
          val min = s.dbl("min").getOrElse(0.0)
          val max = s.dbl("max").getOrElse(100.0)
          if (ctx.nativeFns && nativeOk) native(c, "double", c.salt(), 0L, min, max)
          else transform(idx, i => uElem(c, "")(i) * (max - min) + min)
        case "normal" if s.dbl("min").isEmpty && s.dbl("max").isEmpty =>
          val mean = s.dbl("mean").getOrElse(0.0)
          val sd = s.dbl("sd").orElse(s.dbl("precision").map(p => 1.0 / p)).getOrElse(1.0)
          if (ctx.nativeFns && nativeOk)
            native(c, "normal", c.salt("#a"), c.salt("#b"), mean, sd)
          else transform(idx, i =>
            sqrt(log(uElem(c, "#a")(i) + lit(1e-300)) * -2.0) *
              cos(uElem(c, "#b")(i) * (2 * math.Pi)) * sd + mean)
        case "uuid" =>
          if (ctx.nativeFns && nativeOk) native(c, "uuid", c.salt("#hi"), c.salt("#lo"))
          else {
            def hb(extra: String): Column => Column = i =>
              xxhash64(col("id"), lit(c.salt(extra)), i)
            transform(idx, { i =>
              val hiV = hb("#hi")(i).bitwiseAND(lit(~0xf000L)).bitwiseOR(lit(0x4000L))
              val loV = hb("#lo")(i).bitwiseAND(lit(0x3fffffffffffffffL))
                .bitwiseOR(lit(Long.MinValue))
              val hs = format_string("%016x", hiV)
              val ls = format_string("%016x", loV)
              concat_ws("-",
                substring(hs, 1, 8), substring(hs, 9, 4), substring(hs, 13, 4),
                substring(ls, 1, 4), substring(ls, 5, 12))
            })
          }
        case _ => return None
      }
      name -> arr
    }
    // zip the field arrays into one array<struct> with arrays_zip: each
    // array expression evaluates exactly ONCE. A transform building
    // structs via element_at(arr, i) would re-evaluate every (already
    // O(n²)) prefix-sum array per element — O(n³), measured 4.5x slower
    // than the interpreter (no CSE inside lambdas).
    val zipped = arrays_zip(arrays.map { case (nm, arr) => arr.as(nm) }: _*)
    Some(FlatSeq(arrays.map(_._1), zipped, lenCol.isDefined))
  }

  /** The cumulative weight ladder behind a multinomial CASE chain —
    * public so the DuckDB oracle generator can inline the EXACT same
    * double literals (bit-for-bit reproducibility of the branch picks).
    */
  def cumWeights(items: Seq[(String, Double)]): Seq[(String, Double)] = {
    val total = items.map(_._2).sum
    var cum = 0.0
    items.map { case (v, w) => cum += w / total; (v, cum) }
  }

  /** Leftmost index i with u < cums(i), as a BALANCED binary CASE tree:
    * per-row evaluation touches O(log n) branches instead of walking a
    * linear n-branch chain (measured 40 µs/row on the 252-entry name
    * ladder linear, ~1 µs/row as a tree). Standard first-true binary
    * search over the nondecreasing cumulative array, so the picked leaf
    * is IDENTICAL to the linear chain's for every u — the DuckDB
    * oracles keep their linear CASE with the same literals.
    */
  private def ladderPick(uu: Column, cums: Seq[Double], leaf: Int => Column): Column = {
    def build(lo: Int, hi: Int): Column =
      if (lo == hi) leaf(lo)
      else {
        val mid = (lo + hi) / 2
        when(uu < cums(mid), build(lo, mid)).otherwise(build(mid + 1, hi))
      }
    build(0, cums.length - 1)
  }

  /** Weighted pick from a small table over the cumulative distribution
    * (codegen-able for dimension-sized tables).
    */
  private def multinomialCol(ctx: Ctx, items: Seq[(String, Double)]): Option[Column] = {
    // cap keeps the CASE tree codegen-friendly (Spark splits oversized
    // expression trees into helper methods, but dimension tables beyond a
    // few hundred entries belong in a broadcast join, not an expression)
    if (items.isEmpty || items.length > 256) return None
    val cums = cumWeights(items)
    Some(ladderPick(u(ctx), cums.map(_._2), i => lit(cums(i)._1)))
  }

  private def zipColumns(ctx: Ctx, f: FieldSpec): Option[Seq[(String, Column)]] = {
    // options the fast path doesn't implement → fall back to the
    // interpreter rather than silently ignoring the user's constraints
    val unsupported = Seq("zip", "prefix", "latitudeMin", "latitudeMax",
      "longitudeMin", "longitudeMax", "latitudeFuzz", "longitudeFuzz", "fuzz")
    if (unsupported.exists(f.node(_).isDefined)) return None
    if (!f.bool("verbose").getOrElse(true)) return None
    val fields = f.str("fields").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("zip", "city", "state", "latitude", "longitude"))
    val rows = if (f.bool("onlyContinental").contains(true)) SeedData.continentalZips
      else SeedData.zips
    if (rows.length > 4096) return None
    val idx = pmod(hashBits(ctx), lit(rows.length.toLong)).cast("int")
    def pick[T](vals: Seq[Column]): Column = element_at(array(vals: _*), idx + 1)
    Some(fields.map {
      case "zip"       => "zip" -> pick(rows.map(z => lit(z.zip)))
      case "city"      => "city" -> pick(rows.map(z => lit(z.city)))
      case "state"     => "state" -> pick(rows.map(z => lit(z.state)))
      case "latitude"  => "latitude" -> pick(rows.map(z => lit(z.latitude)))
      case "longitude" => "longitude" -> pick(rows.map(z => lit(z.longitude)))
      case other       => return None
    })
  }

  // scalastyle:off cyclomatic.complexity
  def compile(f: FieldSpec, ctx: Ctx): Option[Column] = f.clazz match {
    case "int" | "integer" | "random-int" =>
      if (f.node("dist").isDefined) return None
      val min = f.sizeLong("min").getOrElse(0L)
      val max = f.sizeLong("max").getOrElse(100L)
      val skew = f.int("skew").getOrElse(0)
      // floor, not cast: double->long truncates toward zero, which would
      // double the mass at 0 for negative-min ranges
      val draws = (0 to math.abs(skew)).map(k =>
        floor(u(ctx, s"#$k") * (max - min) + min).cast("long"))
      val v = if (skew == 0) draws.head
        else if (skew > 0) least(draws: _*) else greatest(draws: _*)
      Some(f.str("format").filter(_.contains("%"))
        .map(fm => format_string(fm, v)).getOrElse(v))
    case "double" | "float" =>
      if (f.node("dist").isDefined) return None // discrete dist → interpreter
      val min = f.dbl("min").getOrElse(0.0)
      val max = f.dbl("max").getOrElse(100.0)
      val skew = f.int("skew").getOrElse(0)
      val draws = (0 to math.abs(skew)).map(k => u(ctx, s"#$k") * (max - min) + min)
      val v = if (skew == 0) draws.head
        else if (skew > 0) least(draws: _*) else greatest(draws: _*)
      Some(f.str("format").filter(_.contains("%"))
        .map(fm => format_string(fm, v)).getOrElse(v))
    case "foreign-key" =>
      // small domains compile to the same cumulative CASE ladder as the
      // multinomials (codegen-friendly); large domains keep the
      // interpreter's memoized binary-search table — a 1M-entry ladder
      // has no place in an expression tree
      val size = f.sizeLong("size").getOrElse(1000L)
      val skew = f.dbl("skew").getOrElse(0.5)
      if (size > 256 || size < 1) return None
      val items = (0 until size.toInt).map(i => i.toString -> math.pow(i + 1.0, -skew))
      // cumWeights: ONE source of the cumulative double literals, shared
      // with the DuckDB oracle generator (bit-identical branch picks)
      Some(ladderPick(u(ctx), cumWeights(items).map(_._2), i => lit(i.toLong)))
    case "vector" if f.node("transform").isEmpty && f.node("resolution").isEmpty =>
      // literal-length vectors: per-element uniforms keyed by (seed,
      // path, row id, element index) — same keying as the flat-sequence
      // series, so the whole array is reproducible under any partitioning
      val n = f.node("length").filter(_.isNumber).map(_.asInt).getOrElse(return None)
      if (n <= 0 || n > 256) return None
      val idx = sequence(lit(1), lit(n))
      def uE(extra: String): Column => Column = i =>
        shiftrightunsigned(xxhash64(col("id"), lit(ctx.salt(extra)), i), 11) *
          lit(1.1102230246251565e-16)
      if (f.dbl("mean").isDefined || f.dbl("sd").isDefined) {
        val mean = f.dbl("mean").getOrElse(0.0)
        val sd = f.dbl("sd").getOrElse(1.0)
        Some(transform(idx, i =>
          sqrt(log(uE("#a")(i) + lit(1e-300)) * -2.0) *
            cos(uE("#b")(i) * (2 * math.Pi)) * sd + mean))
      } else {
        val min = f.dbl("min").getOrElse(0.0)
        val max = f.dbl("max").getOrElse(1.0)
        Some(transform(idx, i => uE("")(i) * (max - min) + min))
      }
    case "normal" if f.dbl("min").isEmpty && f.dbl("max").isEmpty =>
      // Box–Muller from two keyed uniforms (u1 nudged off zero)
      val mean = f.dbl("mean").getOrElse(0.0)
      val sd = f.dbl("sd").orElse(f.dbl("precision").map(p => 1.0 / p)).getOrElse(1.0)
      val u1 = u(ctx, "#a") + lit(1e-300)
      val u2 = u(ctx, "#b")
      Some(sqrt(log(u1) * -2.0) * cos(u2 * (2 * math.Pi)) * sd + mean)
    case "uuid" =>
      val hi = hashBits(ctx, "#hi")
      val lo = hashBits(ctx, "#lo")
      // RFC-4122 v4 shape: version nibble 4, variant bits 10
      val hiV = hi.bitwiseAND(lit(~0xf000L)).bitwiseOR(lit(0x4000L))
      val loV = lo.bitwiseAND(lit(0x3fffffffffffffffL)).bitwiseOR(lit(Long.MinValue))
      val hs = format_string("%016x", hiV)
      val ls = format_string("%016x", loV)
      Some(concat_ws("-",
        substring(hs, 1, 8), substring(hs, 9, 4), substring(hs, 13, 4),
        substring(ls, 1, 4), substring(ls, 5, 12)))
    case "ipv4" =>
      val h = hashBits(ctx)
      def octet(shift: Int) =
        shiftrightunsigned(h, shift).bitwiseAND(lit(255L))
      // public leading octet: 1..223 excluding 10 and 127 (RFC1918 /
      // loopback), matching the interpreter's contract — draw 1..221
      // then shift past each excluded value
      val a0 = pmod(octet(24), lit(221L)) + 1
      val a1 = a0 + when(a0 >= 10, 1).otherwise(0)
      val aPub = a1 + when(a1 >= 127, 1).otherwise(0)
      // last octet 1..254 uniform via pmod — an AND with non-power-of-two
      // 253 would make half the values unreachable
      val last = pmod(octet(0), lit(254L)) + 1
      Some(if (f.bool("private").contains(true))
        concat_ws(".", lit(10), octet(16), octet(8), last)
      else
        concat_ws(".", aPub, octet(16), octet(8), last))
    case "date" =>
      val fmt = f.str("format").getOrElse("yyyy-MM-dd")
      val ft = graft.runtime.FancyTime(fmt)
      val ms: Column = (f.str("start").map(ft.parseMillis), f.str("end").map(ft.parseMillis)) match {
        case (None, None) =>
          val meanMs = 100.0 * 24 * 3600 * 1000
          (lit(1375315200000L) - (-log(u(ctx) + 1e-300)) * meanMs).cast("long")
        case (so, eo) => // one-sided bounds default the other; never inverted
          val s = so.getOrElse(0L)
          val e = eo.getOrElse(math.max(1375315200000L, s + 86400000L))
          if (e <= s) return None // inverted explicit bounds → interpreter error
          (u(ctx) * (e - s) + s).cast("long")
      }
      // NOTE: date_format renders in the session timezone; the engine's
      // entry points pin spark.sql.session.timeZone=UTC to match
      // FancyTime. "iso" is the reference's named alias.
      Some(fmt match {
        case "s"   => (ms / 1000L).cast("long").cast("string")
        case "Q"   => ms.cast("string")
        case "iso" => date_format(timestamp_millis(ms), "yyyy-MM-dd'T'HH:mm:ss'Z'")
        case p     => date_format(timestamp_millis(ms), p)
      })
    case "id" => Some(col("id") + f.long("start").getOrElse(0L))
    case "string" =>
      import scala.jdk.CollectionConverters._
      val items = f.node("dist").map(_.properties().asScala.toSeq
        .map(e => e.getKey -> e.getValue.asDouble(1.0))).getOrElse(return None)
      multinomialCol(ctx, items)
    case "text" if f.node("dist").isDefined =>
      // the bag mode (dist wins over type/words, mirroring Compiler's
      // precedence); quote/markov modes stay on the interpreter
      import scala.jdk.CollectionConverters._
      val items = f.node("dist").get.properties().asScala.toSeq
        .map(e => e.getKey -> e.getValue.asDouble(1.0))
      multinomialCol(ctx, items)
    case "country"  => multinomialCol(ctx, SeedData.countries)
    case "state"    => multinomialCol(ctx, SeedData.states)
    case "language" => multinomialCol(ctx, SeedData.languages)
    case "browser"  => multinomialCol(ctx, SeedData.browsers)
    case "os"       => multinomialCol(ctx, SeedData.osList)
    case "name" if f.str("type").forall(t =>
        Set("first", "last", "first_last").contains(t.toLowerCase)) =>
      val first = multinomialCol(ctx.child("f"),
        SeedData.maleFirst ++ SeedData.femaleFirst).getOrElse(return None)
      val last = multinomialCol(ctx.child("l"), SeedData.lastNames)
        .getOrElse(return None)
      Some(f.str("type").map(_.toLowerCase) match {
        case Some("first") => first
        case Some("last")  => last
        case _             => concat_ws(" ", first, last)
      })
    case "ssn" if f.str("fields").isEmpty =>
      // default-projection ssn is stateless: uniform issued-area pick +
      // group/serial digits, same domains as the interpreter's
      // SsnSampler (area from the filtered table, group 1..99,
      // serial 1..9999)
      val types = f.str("types").map(_.split(",").map(_.trim.toLowerCase).toSeq)
        .getOrElse(Seq("normal"))
      val areas = SeedData.ssnAreas.filter(a => types.contains(a._3)).map(_._1)
      if (areas.isEmpty) return None
      val idx = pmod(hashBits(ctx, "#area"), lit(areas.length.toLong)).cast("int")
      val area = element_at(array(areas.map(a => lit(a.toLong)): _*), idx + 1)
      val group = pmod(hashBits(ctx, "#grp"), lit(99L)) + 1
      val serial = pmod(hashBits(ctx, "#ser"), lit(9999L)) + 1
      Some(format_string("%03d-%02d-%04d", area, group, serial))
    case "street-name" =>
      def uni(part: String, items: Seq[String]): Option[Column] =
        multinomialCol(ctx.child(part), items.map(_ -> 1.0))
      for {
        a <- uni("a", SeedData.streetFirst)
        b <- uni("b", SeedData.streetSecond)
        c <- uni("c", SeedData.streetThird)
      } yield concat_ws(" ", a, b, c)
    case "username" =>
      // rank-weighted stem + numeric suffix (UsernameSampler contract)
      val stems = SeedData.usernames.zipWithIndex.map { case (s, i) => s -> 1.0 / (i + 1) }
      multinomialCol(ctx.child("stem"), stems).map(stem =>
        concat(stem, pmod(hashBits(ctx, "#sfx"), lit(1000L)).cast("string")))
    case "toll" =>
      // struct of a continental-zip row, a range timestamp, and the
      // country constant — the same shape the interpreter's MapSampler
      // composes (Compiler "toll")
      val zctx = ctx.child("location")
      val rows = SeedData.continentalZips
      val idx = pmod(hashBits(zctx), lit(rows.length.toLong)).cast("int")
      def pickz(vals: Seq[Column]): Column = element_at(array(vals: _*), idx + 1)
      val loc = struct(
        pickz(rows.map(z => lit(z.zip))).as("zip"),
        pickz(rows.map(z => lit(z.city))).as("city"),
        pickz(rows.map(z => lit(z.state))).as("state"),
        pickz(rows.map(z => lit(z.latitude))).as("latitude"),
        pickz(rows.map(z => lit(z.longitude))).as("longitude"))
      val e0 = 1375315200000L
      val s0 = e0 - 365L * 86400000L
      val ms = (u(ctx.child("timestamp")) * (e0 - s0) + s0).cast("long")
      Some(struct(loc.as("location"),
        date_format(timestamp_millis(ms), "yyyy-MM-dd HH:mm:ss").as("timestamp"),
        lit(f.str("country").getOrElse("usa")).as("country")))
    case "header" if f.str("prolog").isEmpty =>
      // stateless per record: every line's draw gets its own hash salt.
      // Same template text as the interpreter's HeaderSampler; the draws
      // come from a different (hash-keyed) stream, like every fast path.
      val t = f.str("type").map(_.toLowerCase).getOrElse("normal")
      if (!Set("normal", "mal1", "mal2", "mal3", "ababil").contains(t)) return None
      val isImage = u(ctx, "#img") < 0.3
      def urlCol(tagA: String, tagB: String, img: Column): Column = concat(
        lit("http://foo.bar.com/"),
        format_string("%06d", pmod(hashBits(ctx, tagA), lit(1000000L))),
        lit("/"),
        format_string("%06x", pmod(hashBits(ctx, tagB), lit(16777216L))),
        when(img, ".jpg").otherwise(".html"))
      val host = format_string("x%03d.foo.com", pmod(hashBits(ctx, "#h"), lit(5L)))
      if (t == "ababil")
        Some(concat(lit("GET "), urlCol("#ua", "#ub", isImage), lit("\n"),
          lit("Host: "), host, lit("\n"),
          lit("User-Agent: Mozilla/4.0 (compatible; MSIE 6.0; Windows NT 5.1;)\n" +
            "Accept-Encoding: deflate\nAccept-Charset: UTF-8\n" +
            "Accept-Language: fr\nCache-Control: no-cache\n" +
            "Pragma: no-cache\nConnection: Keep-Alive\n")))
      else {
        def h(name: String): String = if (t == "mal3") name.toLowerCase else name
        val b = multinomialCol(ctx.child("b"), SeedData.browsers).getOrElse(return None)
        val ver = (pmod(hashBits(ctx, "#uv"), lit(40L)) + 90).cast("string")
        val browserNames = SeedData.browsers.map(_._1)
        def uaFor(name: String): Column = {
          val uas = SeedData.userAgents(name)
          val idx = (pmod(hashBits(ctx, "#ui"), lit(uas.length.toLong)) + 1).cast("int")
          replace(element_at(array(uas.map(lit): _*), idx), lit("%d"), ver)
        }
        val ua = browserNames.init.reverse.foldLeft(uaFor(browserNames.last)) {
          case (acc, name) => when(b === name, uaFor(name)).otherwise(acc)
        }
        val accept = when(isImage, lit("image/png,image/*;q=0.8,*/*;q=0.5"))
          .otherwise(lit("text/html,application/xhtml+xml,application/xml;q=0.9,*/*;q=0.8"))
        val l = multinomialCol(ctx.child("l"), SeedData.headerLangs).getOrElse(return None)
        val langLine = concat(l, lit("-"), upper(l), lit(","), l, lit(";q=0.5"))
        val enc: Column = t match {
          case "mal1" => lit("identity")
          case "mal2" => lit("             ")
          case _ =>
            val e = pmod(hashBits(ctx, "#e"), lit(3L))
            when(e === 0, "gzip").when(e === 1, "deflate").otherwise("gzip, deflate")
        }
        Some(concat(
          lit("GET "), urlCol("#ua", "#ub", isImage), lit(" HTTP/1.1\n"),
          lit(s"${h("Host")}: "), host, lit("\n"),
          lit(s"${h("User-Agent")}: "), ua, lit("\n"),
          lit(s"${h("Accept")}: "), accept, lit("\n"),
          lit(s"${h("Accept-Language")}: "), langLine, lit("\n"),
          lit(s"${h("Accept-Encoding")}: "), enc, lit("\n"),
          lit(s"${h("Referer")}: "), urlCol("#ra", "#rb", lit(false)), lit("\n"),
          lit(s"${h("Connection")}: keep-alive\n"),
          lit(s"${h("If-None-Match")}: \"v9”\n"),
          lit(s"${h("Cache-Control")}: max-age=0\n")))
      }
    case "map" =>
      import scala.jdk.CollectionConverters._
      val subs = f.node("value").map { n =>
        val arr = if (n.isArray) n.elements().asScala.toSeq else Seq(n)
        arr.map(SpecParser.parseField)
      }.getOrElse(return None)
      val cols = subs.map { s =>
        val nm = s.name.getOrElse(s.clazz)
        compile(s, ctx.child(nm)).map(_.as(nm)).getOrElse(return None)
      }
      Some(struct(cols: _*))
    case "join" =>
      val sub = f.node("value").map(SpecParser.parseField).getOrElse(return None)
      val sep = f.str("separator").getOrElse(",")
      compile(sub, ctx.child("join")).map(a => array_join(a, sep))
    case "sequence" if !f.bool("flat").contains(true) =>
      import scala.jdk.CollectionConverters._
      f.node("array") match {
        case Some(arr) =>
          val specs = arr.elements().asScala.toSeq.map(SpecParser.parseField)
          val cols = specs.zipWithIndex.map { case (s, i) =>
            compile(s, ctx.child(s"[$i]")).getOrElse(return None)
          }
          // heterogeneous arrays stringify, matching the interpreter
          // (unresolved Columns can't report a dataType — classify by spec)
          def kind(s: FieldSpec): String = s.clazz match {
            case "int" | "integer" | "random-int" | "id" =>
              if (s.str("format").exists(_.contains("%"))) "string" else "long"
            case "double" | "float" | "normal" => "double"
            case _ => "string"
          }
          Some(if (specs.map(kind).distinct.length == 1) array(cols: _*)
            else array(cols.map(_.cast("string")): _*))
        case None =>
          val baseSpec = f.node("base").map(SpecParser.parseField).getOrElse(return None)
          val n = f.node("lengthDistribution").filter(_.isNumber).map(_.asInt)
            .getOrElse(return None)
          // per-element randomness: salt the path with the element index
          val elems = (0 until n).map(i =>
            compile(baseSpec, ctx.child(s"[$i]")).getOrElse(return None))
          Some(array(elems: _*))
      }
    case _ => None
  }
  // scalastyle:on cyclomatic.complexity
}
