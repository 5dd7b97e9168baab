package graft.functions

/** Lexical (WordNet-family) similarity: JCN / LIN / WUP word metrics
  * over a pluggable IS-A taxonomy, plus the reference's compound-word
  * alignment (reference: matcher
  * nlptools/distance/WS4JWordNetDistanceMetric.scala:6-37). The min
  * distance from each class's examples is
  * [[graft.matcher.ExampleFeatures.lexicalMinDistPerClass]].
  *
  * The reference computes these through WS4J over the WordNet database
  * it ships in test resources; that data isn't shippable here, so the
  * lexical base is PLUGGABLE: [[Taxonomy.parse]] loads `word|parent|count`
  * lines (plus `alias=canonical` synonym lines) from any source — a
  * production deployment points it at a WordNet noun-hierarchy export.
  * [[Taxonomy.builtin]] is a hand-authored mini-taxonomy over schema
  * vocabulary so the feature is live out of the box.
  *
  * Metric definitions (standard, as in WS4J):
  *  - WUP:  sim = 2*depth(lcs) / (depth(a)+depth(b)), lcs = deepest
  *    common ancestor; distance = 1 - sim.
  *  - LIN:  sim = 2*IC(mics) / (IC(a)+IC(b)); distance = 1 - sim.
  *  - JCN:  sim = 1 / (IC(a)+IC(b) - 2*IC(mics)), capped at [[MaxJcn]]
  *    for identical concepts; distance = 1 - sim/MaxJcn — the
  *    reference's own bounding transform (its cap is WS4J's 12876699.5;
  *    MinWordNetDistFromClassExamplesFeatureExtractor.scala:120-125).
  *  - IC(n) = -ln(subtreeCount(n)/totalCount) (Resnik information
  *    content); mics = most-informative common subsumer.
  *
  * Word-level contracts shared with the reference: equal words (case-
  * insensitive) are distance 0 before any lookup; words outside the
  * lexical base are maximally distant (1.0) — WS4J likewise returns
  * zero relatedness for out-of-WordNet tokens. Word distances are
  * rounded to 6 decimals so the DuckDB oracle twin (which consumes them
  * as literals) is bit-identical through the alignment arithmetic.
  */
object Lexical {

  val MaxJcn = 1e7

  final case class Taxonomy(
      parent: Map[String, String],
      count: Map[String, Long],
      synonym: Map[String, String]) {

    private def canon(w: String): String = {
      val lw = w.toLowerCase
      synonym.getOrElse(lw, lw)
    }
    private def known(w: String): Boolean = parent.contains(canon(w)) ||
      children.contains(canon(w))

    private lazy val children: Map[String, Seq[String]] =
      parent.toSeq.groupBy(_._2).map { case (p, kids) => p -> kids.map(_._1) }

    // same node-set formula as Taxonomy.validated's root check — the
    // previous `parent.values`-only form threw a bare
    // NoSuchElementException on a single-node taxonomy that validation
    // had just accepted (no parent edges at all)
    private lazy val root: String =
      ((count.keySet ++ parent.values) -- parent.keySet).head

    /** Subtree frequency (own + descendants), the Resnik concept count. */
    private lazy val subtree: Map[String, Long] = {
      def go(n: String): (Map[String, Long], Long) = {
        val (maps, sums) = children.getOrElse(n, Nil).map(go).unzip
        val total = count.getOrElse(n, 0L) +
          (if (sums.isEmpty) 0L else sums.sum)
        (maps.fold(Map.empty[String, Long])(_ ++ _) + (n -> total), total)
      }
      go(root)._1
    }

    private lazy val total: Double = subtree(root).toDouble

    /** Depth from root (root = 1), WUP convention. */
    private lazy val depth: Map[String, Int] = {
      def go(n: String, d: Int): Map[String, Int] =
        children.getOrElse(n, Nil).map(go(_, d + 1))
          .fold(Map(n -> d))(_ ++ _)
      go(root, 1)
    }

    def ic(w: String): Double = -math.log(subtree(canon(w)) / total)

    private def ancestors(w: String): List[String] = {
      def up(n: String): List[String] =
        n :: parent.get(n).map(up).getOrElse(Nil)
      up(canon(w))
    }

    /** Common ancestors of two in-taxonomy words, nearest-first. */
    private def commonAncestors(a: String, b: String): Seq[String] = {
      val bs = ancestors(b).toSet
      ancestors(a).filter(bs.contains)
    }

    private def r6u(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong

    /** (jcnDist, linDist, wupDist) for a word pair in integer
      * MICRO-units (distance × 1e6, rounded). Integer units make the
      * downstream alignment arithmetic (min / truncated mean) exact in
      * any engine — the DuckDB oracle twin reproduces it bit-for-bit
      * instead of chasing double-summation order. */
    def wordDistanceMicros(w1: String, w2: String): (Long, Long, Long) = {
      if (w1.equalsIgnoreCase(w2)) (0L, 0L, 0L)
      else if (!known(w1) || !known(w2)) (1000000L, 1000000L, 1000000L)
      else {
        val common = commonAncestors(w1, w2)
        val lcsDepth = common.map(depth).max
        val micsIc = common.map(n => -math.log(subtree(n) / total)).max
        val ia = ic(w1); val ib = ic(w2)
        val wupSim = 2.0 * lcsDepth / (depth(canon(w1)) + depth(canon(w2)))
        val jcnDenom = ia + ib - 2.0 * micsIc
        val jcnSim = if (jcnDenom <= 1e-12) MaxJcn
          else math.min(1.0 / jcnDenom, MaxJcn)
        val linSim = if (ia + ib <= 1e-12) 0.0 else 2.0 * micsIc / (ia + ib)
        (r6u(1.0 - jcnSim / MaxJcn), r6u(1.0 - linSim), r6u(1.0 - wupSim))
      }
    }

    /** (jcnDist, linDist, wupDist) for a word pair, in [0, 1]. */
    def wordDistances(w1: String, w2: String): (Double, Double, Double) = {
      val (j, l, w) = wordDistanceMicros(w1, w2)
      (j / 1e6, l / 1e6, w / 1e6)
    }

    /** Reference compound-word alignment: iterate the BIGGER token set,
      * greedily match each word to its min-distance partner in the
      * smaller set, average (WS4JWordNetDistanceMetric.computeBestAlignment;
      * ties resolved by sorted iteration order — the reference iterates
      * JVM Set order, which is unstable; sorted is the deterministic
      * choice). The mean truncates at micro-resolution (exact integer
      * division), so the value is engine-independent. Returns
      * (jcn, lin, wup) pair distances in [0, 1]. */
    def compoundDistance(set1: Seq[String], set2: Seq[String])
        : (Double, Double, Double) = {
      val (smaller, bigger) =
        if (set1.size <= set2.size) (set1, set2) else (set2, set1)
      def avgOf(pick: ((Long, Long, Long)) => Long): Double = {
        val per = bigger.sorted.map { w =>
          smaller.map(v => pick(wordDistanceMicros(w, v))).min
        }
        (per.sum / per.size) / 1e6
      }
      (avgOf(_._1), avgOf(_._2), avgOf(_._3))
    }
  }

  object Taxonomy {

    /** Parse `word|parent|count` node lines and `alias=canonical`
      * synonym lines; '#' comments and blanks skipped. */
    def parse(lines: Iterator[String]): Taxonomy = {
      val parent = Map.newBuilder[String, String]
      val count = Map.newBuilder[String, Long]
      val syn = Map.newBuilder[String, String]
      lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .foreach { l =>
          if (l.contains('=')) {
            val Array(a, c) = l.split("=", 2)
            syn += a.trim -> c.trim
          } else l.split("\\|").map(_.trim) match {
            case Array(w, p, n) =>
              if (p.nonEmpty) parent += w -> p
              count += w -> n.toLong
            case Array(w, p) =>
              if (p.nonEmpty) parent += w -> p
              count += w -> 1L
            case bad => throw new IllegalArgumentException(
              s"bad taxonomy line: '${bad.mkString("|")}'")
          }
        }
      validated(Taxonomy(parent.result(), count.result(), syn.result()))
    }

    /** Structural validation at load time — the format is user-pluggable
      * (a WordNet export), so malformed input must fail HERE with a
      * clear message, not later inside a metric with a stack overflow
      * (cycle) or a missing-key lookup (undefined parent). */
    private def validated(t: Taxonomy): Taxonomy = {
      val nodes = t.count.keySet ++ t.parent.keySet ++ t.parent.values
      val undefinedParents = t.parent.values.toSet -- t.count.keySet
      val roots = nodes -- t.parent.keySet
      require(undefinedParents.isEmpty,
        s"taxonomy parents without a node line: ${undefinedParents.mkString(", ")}")
      require(roots.size == 1,
        s"taxonomy must have exactly one root, found: ${roots.mkString(", ")}")
      // cycle check: every node must reach the root within |nodes| hops
      val limit = nodes.size
      t.parent.keys.foreach { n =>
        var cur = n; var hops = 0
        while (t.parent.contains(cur)) {
          cur = t.parent(cur); hops += 1
          require(hops <= limit, s"taxonomy cycle through '$n'")
        }
      }
      val badSyn = t.synonym.values.toSet -- nodes
      require(badSyn.isEmpty,
        s"synonyms of undefined nodes: ${badSyn.mkString(", ")}")
      t
    }

    /** Parse a Princeton WordNet noun database (`dict/data.noun`, WNDB
      * format per wninput(5WN) — the shape the reference ships in
      * matcher/src/test/resources/wordnet): each synset line is
      * `offset lex_filenum ss_type w_cnt(hex) (word lex_id)+
      * p_cnt(dec) (ptr_symbol offset pos source_target)* | gloss`.
      * Mapping into the IS-A [[Taxonomy]]:
      *  - a synset becomes one node named by its FIRST word
      *    (lowercased, underscores -> spaces); remaining words become
      *    synonym aliases of it;
      *  - the FIRST `@`/`@i` (hypernym / instance-hypernym) noun
      *    pointer becomes the parent edge — WordNet nouns form a DAG,
      *    the first-hypernym convention makes it the tree this
      *    taxonomy models (ws4j's JCN/LIN path walks primary
      *    hypernyms the same way);
      *  - concept frequency is uniform (1 per synset): Resnik IC
      *    degrades to structural IC, the standard fallback when no
      *    sense-tagged corpus counts (cntlist) are wired in.
      * License/header lines (leading whitespace) are skipped.
      * Validation (single root, no cycles, defined parents) applies as
      * for [[parse]]. */
    /** One tokenized WNDB data-file synset line: offset, member words
      * (lowercased, underscores -> spaces), and the first hypernym /
      * instance-hypernym pointer's target offset within the same POS,
      * if any. */
    final case class WndbSynset(offset: String, words: Seq[String],
      hypernym: Option[String])

    /** Tokenize the synset lines of any WNDB `data.<pos>` file
      * (wninput(5WN) grammar): `offset lex_filenum ss_type w_cnt(hex)
      * (word lex_id)+ p_cnt(dec) (ptr_symbol offset pos source_target)*
      * [frames...] | gloss`. `ssTypes` is the accepted ss_type set
      * (nouns "n"; verbs also tokenize — their trailing frames section
      * sits after the pointers we read and before the gloss, so the
      * same field walk applies). License/header lines (leading
      * whitespace) are skipped. */
    def parseWndbSynsets(lines: Iterator[String],
        ssTypes: Set[String]): Seq[WndbSynset] = lines
      .filter(l => l.nonEmpty && !l.charAt(0).isWhitespace)
      .map { line =>
        val f = line.split("\\|")(0).trim.split("\\s+")
        require(ssTypes.contains(f(2)),
          s"unexpected ss_type '${f(2)}' (wanted ${ssTypes.mkString("/")})")
        val wCnt = Integer.parseInt(f(3), 16)
        val words = (0 until wCnt)
          .map(i => f(4 + 2 * i).toLowerCase.replace('_', ' '))
        val pIdx = 4 + 2 * wCnt
        val pCnt = f(pIdx).toInt
        val hypernym = (0 until pCnt).map { j =>
          val b = pIdx + 1 + 4 * j
          (f(b), f(b + 1), f(b + 2))
        }.collectFirst {
          case (sym, off, pos)
            if (sym == "@" || sym == "@i") && ssTypes.contains(pos) => off
        }
        WndbSynset(f(0), words, hypernym)
      }.toSeq

    def parseWndbNoun(lines: Iterator[String]): Taxonomy = {
      val synsets = parseWndbSynsets(lines, Set("n"))
        .map(s => (s.offset, s.words, s.hypernym))
      val nameOf = synsets.map { case (off, ws, _) => off -> ws.head }.toMap
      val parent = synsets.flatMap { case (_, ws, h) =>
        h.flatMap(nameOf.get).filter(_ != ws.head).map(ws.head -> _)
      }.toMap
      val count = synsets.map { case (_, ws, _) => ws.head -> 1L }.toMap
      val syn = synsets.flatMap { case (_, ws, _) =>
        ws.tail.filter(_ != ws.head).map(_ -> ws.head)
      }.toMap
      validated(Taxonomy(parent, count, syn))
    }

    /** Load a WordNet dictionary directory (the reference's
      * `wordnet/dict` layout): parses `data.noun`. */
    def fromWndbDir(dir: String): Taxonomy = {
      val src = scala.io.Source.fromFile(s"$dir/data.noun")
      try parseWndbNoun(src.getLines()) finally src.close()
    }

    /** Built-in mini-taxonomy over schema-header vocabulary (hand-
      * authored; a production deployment parses a WordNet noun export
      * via [[fromWndbDir]] or the pipe format via [[parse]]). */
    lazy val builtin: Taxonomy = parse(BuiltinSource.linesIterator)

    val BuiltinSource: String = """
      # word|parent|frequency  (IS-A noun hierarchy; root has no parent)
      entity||1000
      abstraction|entity|800
      attribute|abstraction|600
      identifier|attribute|180
      key|identifier|200
      code|identifier|80
      number|identifier|120
      measure|attribute|150
      quantity|measure|120
      size|measure|100
      amount|measure|90
      value|measure|110
      monetary|measure|60
      price|monetary|140
      cost|monetary|60
      balance|monetary|50
      tax|monetary|45
      discount|monetary|40
      temporal|attribute|120
      date|temporal|160
      time|temporal|130
      day|temporal|70
      month|temporal|60
      year|temporal|80
      designation|attribute|100
      name|designation|220
      title|designation|60
      label|designation|40
      classification|attribute|90
      category|classification|80
      type|classification|150
      class|classification|60
      status|classification|90
      flag|classification|50
      segment|classification|35
      brand|classification|45
      priority|classification|30
      content|attribute|70
      text|content|100
      comment|content|50
      description|content|45
      language|content|30
      data|content|60
      contact|attribute|40
      address|contact|70
      phone|contact|50
      email|contact|40
      object|entity|700
      organization|object|200
      company|organization|80
      supplier|organization|60
      customer|organization|90
      user|organization|70
      location|object|180
      nation|location|60
      region|location|55
      country|location|65
      city|location|50
      artifact|object|250
      part|artifact|90
      item|artifact|80
      product|artifact|70
      order|artifact|110
      line|artifact|60
      document|artifact|50
      act|entity|300
      event|act|80
      ship|act|60
      return|act|50
      # synonyms: alias=canonical
      id=identifier
      lang=language
      doc=document
      qty=quantity
      """
  }
}
