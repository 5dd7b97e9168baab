package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Portable text-expression builders shared by the text-analysis and
  * dedup operators. Every builder has an exact DuckDB twin (same md5-based
  * hashing, same shingling) in the module's oracle SQL — all hashing is
  * md5-hex so Spark results and the DuckDB oracle agree byte-for-byte on
  * any engine. Everything here is a codegen-friendly Catalyst expression
  * tree (no UDFs): whole-stage codegen applies and the work distributes
  * row-wise with zero driver state.
  */
object Text {

  /** Lowercased alphanumeric word tokens. */
  def words(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))

  /** THE normalized-text form every exact-dedup / admission site
    * hashes (d1, t4, e1/e2, st10, streaming dedup): lowercase, strip
    * non-[a-z0-9 ], collapse space runs, trim. One definition — the
    * fingerprints only match across operators because the bytes are
    * identical, so no site may inline its own copy. */
  def normText(c: Column): Column = trim(regexp_replace(
    regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  /** GPT-style coarse token count: letter runs, single digits, or single
    * non-alphanumeric non-space chars. */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Distinct word n-gram shingles of a word array. */
  def wordShingles(w: Column, n: Int): Column =
    // native distinct-shingle kernel (r16): identical values to the
    // previous array_distinct(transform(sequence..., array_join(slice
    // ...))) HOF chain — which paid four interpreted trees per token
    // and kept the projection out of codegen (12 s of d2's 16 s
    // tokenize+shingle pass at sf10) — pinned by WordShinglesParitySpec.
    // The when/otherwise scaffold is unchanged, so null and short
    // inputs coerce to the empty array exactly as before.
    when(size(w) >= n, graft.functions.WordShingles.shingles(w, n))
      .otherwise(array().cast("array<string>"))

  /** Word n-gram shingles WITH occurrences (no distinct) — for
    * frequency-based features (t11 importance weights), where how often
    * a gram appears in a doc matters, unlike the set-semantics dedup
    * shingles above. */
  def wordShinglesAll(w: Column, n: Int): Column =
    // same native kernel as [[wordShingles]] with distinct off —
    // position order and duplicates preserved exactly as the
    // transform(sequence..., array_join(slice...)) HOF chain emitted
    // them (WordShinglesParitySpec pins both variants)
    when(size(w) >= n, graft.functions.WordShingles.shinglesAll(w, n))
      .otherwise(array().cast("array<string>"))

  /** Distinct character n-gram shingles of a string. */
  def charShingles(c: Column, n: Int): Column = {
    val s = lower(c)
    when(length(s) >= n,
      array_distinct(transform(sequence(lit(0), length(s) - n),
        j => s.substr(j + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** PII patterns shared by the scrub/count operators — conservative
    * regexes that parse identically under Java regex (Spark) and RE2
    * (DuckDB): no backrefs, no lookaround. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redact emails, IPv4 addresses and phone numbers (in that order —
    * the patterns are disjoint on any one token, so order only matters
    * for the replacement text). Row-wise codegen'd regex work — the
    * standard pre-training PII pass, embarrassingly parallel. */
  def piiScrub(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, lit(EmailRe), lit("[EMAIL]")),
        lit(Ipv4Re), lit("[IP]")),
      lit(PhoneRe), lit("[PHONE]"))

  /** t10 rarity saturation, in micro-units: inverse unigram probability
    * caps at 1e6 ("rarer than one-in-a-million words"). Keeps per-word
    * scores and per-doc sums inside exact Long arithmetic at 100-TB
    * corpus sizes (see the t10 OVERFLOW BOUNDS note); mirrored in the
    * DuckDB twin so hash-identity holds even when it binds. */
  val RarityCapMicro = 1000000000000L // 1e6 inverse-prob * 1e6 micro

  /** Micro-resolution inverse unigram probability floor((t/c)*1e6) for a
    * count column named `c`, computed by the exact-rational split
    * (t div c)*1e6 + ((t mod c)*1e6) div c so the Long intermediate
    * t*1e6 — which overflows at t > ~9.2e12 corpus words — is never
    * formed; saturated at [[RarityCapMicro]]. Exact while the most
    * common word's count stays <= 9.2e12 occurrences (~1 PB of English
    * text). The saturation branches BEFORE the multiply (t div c >= 1e6
    * iff the split >= the cap, since the fractional micro part is
    * < 1e6), so under ANSI mode no overflowing intermediate is ever
    * evaluated. Integer `div` has no Column-API form, hence the expr
    * (and the fixed column name). */
  def rarityMicro(total: Long): Column =
    expr(s"""CASE WHEN ${total}L div c >= 1000000L THEN $RarityCapMicro
      ELSE (${total}L div c) * 1000000L + ((${total}L % c) * 1000000L) div c
      END""")

  /** MinHash modulus (2^31 - 1, prime): products a_i * h stay under
    * 2^62, so the k-hash family is exact 64-bit arithmetic in any
    * engine. */
  val MinhashP = 2147483647L

  /** MinHash signature: one md5 per shingle (folded to a bigint in
    * [0, P)), then k universal hashes h_i = (a_i*h + b_i) mod P over
    * that base — 64x fewer digest calls than hashing per (i, shingle),
    * and still portable: DuckDB reproduces the same arithmetic
    * byte-for-byte. Computed by the native
    * [[graft.functions.MinHashSignature]] expression (one compiled
    * per-row loop); the nested-HOF formulation of the same arithmetic
    * cost k × |shingles| interpreted lambda hops per row, which at sf1
    * made st7's stream side ~100× slower than its batch twin. */
  def minhash(sh: Column, k: Int): Column =
    graft.functions.MinHashSignature.minhash(sh, k)

  /** LSH band keys: md5 over `rows` consecutive signature entries. A pair
    * of docs is a candidate iff any band key collides. Computed by the
    * native [[graft.functions.LshBandKeys]] expression: the HOF
    * formulation (`transform(sequence(...), b -> md5(concat_ws(...,
    * element_at(mh, ...))))`) re-evaluates `mh` per element_at when the
    * signature is an inline expression rather than a materialized
    * column — bands×rows = 64 full MinHash recomputations per row
    * (measured: st7's stateless rewrite went 64× super-linear before
    * this). The native form evaluates the signature child once. */
  def bandKeys(mh: Column, bands: Int, rows: Int): Column =
    graft.functions.LshBandKeys.bandKeys(mh, bands, rows)

  /** Exact Jaccard similarity of two distinct-element arrays. Two
    * EMPTY sets (e.g. both docs shorter than the shingle width) are
    * 0/0: DuckDB's division yields NULL there where ANSI Spark throws,
    * so the union size is nullif-guarded to mirror the oracle — the
    * pair then fails any `>= threshold` gate in both engines. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      nullif(size(array_union(a, b)).cast("double"), lit(0.0))

  /** First 8 md5 hex chars of a token as an unsigned 32-bit value —
    * the per-word hash feeding SimHash. */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Dot product of two double arrays via the native codegen'd
    * [[graft.functions.DotProduct]] expression. Bit-identical to the
    * previous `aggregate(zip_with(...))` fold (same multiply-add order
    * over positions) but stays inside whole-stage codegen instead of
    * dropping to interpreted HOF evaluation per pair. */
  def dot(x: Column, y: Column): Column =
    graft.functions.DotProduct.dot(x, y)

  // Note: an unrolled fixed-dim dot (64 getItem terms) was measured
  // SLOWER than the HOF fold — the 256-node expression tree exceeds
  // codegen limits and falls back to interpreted eval. The native
  // Expression loop replaces both.

  /** L2 norm of a double array. */
  def norm(x: Column): Column = sqrt(dot(x, x))

  /** Cosine similarity of two double arrays. In pair joins prefer
    * precomputing [[norm]] per side and using
    * `dot(a,b) / (na * nb)` — same FP ops in the same order (so results
    * stay bit-identical with this formula) but norms are computed once
    * per vector instead of once per pair. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Cast a float array column to double (exact widening). */
  def asDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Deterministic pseudo-random +/-1 hyperplane weight for random-
    * hyperplane (sign) LSH — shared by the ANN and near-dup operators so
    * their signatures agree.
    *
    * md5-based (parity of the digest's first byte of "p:d"), like every
    * other engine-portable hash here, so DuckDB twins reproduce it as
    * `md5(p || ':' || d)`. The PREVIOUS formula —
    * `((p*73 + d*179) % 7) % 2` — was structurally degenerate: it
    * depends only on (3p + 4d) mod 7, so the whole family contained
    * SEVEN distinct hyperplanes (plane p == plane p+7, each biased 4:3
    * toward +1), every >=7-plane band covered the same 7 residues, and
    * all bands induced the SAME partition — multi-band LSH collapsed to
    * one 7-bit band (recall p^7 instead of 1-(1-p^bits)^bands; the d25
    * audit measured 5.2% where the independent-plane formula predicts
    * 26%). Caught by d25_embedding_lsh_recall in round 14; md5 parity
    * bits are unbiased and independent across (p, d), so the banding
    * math the operators document actually holds. */
  // driver-side memo: plan construction touches each (p, d) several
  // times (plane matrix + threshold fold), and the d26 geometry sweep
  // walks ~180k distinct (p, d) cells — one MD5 each is ~1s of pure
  // driver hashing without the cache, none with it
  private val planeMemo =
    new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Double]()
  def planeWeight(p: Int, d: Int): Double =
    planeMemo.computeIfAbsent((p.toLong << 32) | (d & 0xffffffffL), _ => {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p:$d".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1.0 else -1.0
    })

  /** Random-hyperplane LSH signature: sign bits of v . plane_p packed
    * into a long (lowest bit = plane 0). `planes` must be <= 62. s15
    * runs it (its multiprobe flips bits inside a band); DedupSpec pins
    * it against [[hyperplaneBandKey]].
    * Plane dots go through the codegen'd [[dot]] (bit-identical to the
    * HOF fold it replaced — same multiply-add order — but stays inside
    * whole-stage codegen; the interpreted fold was the measured
    * bottleneck of signature builds over single-file vector tables). */
  def hyperplaneSig(v: Column, planes: Int, dims: Int): Column =
    (0 until planes).map { p =>
      val plane = array((0 until dims).map(d => lit(planeWeight(p, d))): _*)
      when(dot(v, plane) >= 0, 1L << p).otherwise(0L)
    }.reduce(_ + _)

  /** One band's random-hyperplane key, the composite reference that
    * BandKeysParitySpec pins [[graft.functions.HyperplaneBandKeys]]
    * against: the `bits` sign bits of band
    * `band`'s plane set (global plane index band*bits+i at local bit
    * i — bit-identical to extracting band `band` from a packed
    * [[hyperplaneSig]] of bands*bits planes when `center` is empty).
    * Unlike the packed form there is NO 62-plane cap: each band packs
    * independently, so bits-per-band can scale with corpus size (the
    * d5/d9 hot-bucket story) without overflowing a single long.
    *
    * `center`: optional corpus centroid. Signing the CENTERED vector
    * balances the bits when the corpus is off-center (raw sign bits over
    * such a corpus collapse into a few mega-buckets — measured in the
    * sf1 rehearsal). Because the planes are linear,
    * dot(v - c, plane) = dot(v, plane) - dot(c, plane), and the second
    * term is a per-plane CONSTANT — so centering is a driver-computed
    * literal threshold per plane, NOT a per-row 64-term subtraction
    * array (which the optimizer would inline into every one of the
    * bands*bits dots — measured 96x interpreted blowup). */
  def hyperplaneBandKey(v: Column, band: Int, bits: Int, dims: Int,
      center: Seq[Double] = Nil): Column =
    (0 until bits).map { i =>
      val p = band * bits + i
      val plane = array((0 until dims).map(d => lit(planeWeight(p, d))): _*)
      val off =
        if (center.isEmpty) 0.0
        else (0 until dims).map(d => center(d) * planeWeight(p, d)).sum
      when(dot(v, plane) >= lit(off), 1L << i).otherwise(0L)
    }.reduce(_ + _)
}
