package graft.functions

/** Hand-computed expectations for the lexical (WordNet-family) metrics
  * over a 6-node toy taxonomy, so the JCN/LIN/WUP arithmetic is checked
  * against the standard definitions — independently of the builtin
  * lexicon and of the DuckDB oracle (which consumes these values as
  * literals).
  *
  * Toy tree (counts in parens):     root(10)
  *                                  /      \
  *                              mid(6)    other(4)
  *                              /    \
  *                          leafa(3) leafb(2)
  * subtree: leafa=3, leafb=2, mid=11, other=4, root=25 (total).
  */
class LexicalSpec extends graft.SparkSpec {

  private val toy = Lexical.Taxonomy.parse(
    """root||10
      |mid|root|6
      |other|root|4
      |leafa|mid|3
      |leafb|mid|2
      |la=leafa
      |""".stripMargin.linesIterator)

  private def ic(sub: Double) = -math.log(sub / 25.0)

  test("WUP: 2*depth(lcs)/(depth(a)+depth(b))") {
    // leafa vs leafb: lcs=mid depth 2; both depth 3 -> 4/6
    val (_, _, wup) = toy.wordDistances("leafa", "leafb")
    assert(wup === math.floor((1.0 - 4.0 / 6.0) * 1e6 + 0.5) / 1e6)
    // leafa vs other: lcs=root depth 1 -> 2/(3+2)
    val (_, _, wup2) = toy.wordDistances("leafa", "other")
    assert(wup2 === math.floor((1.0 - 2.0 / 5.0) * 1e6 + 0.5) / 1e6)
  }

  test("LIN: 2*IC(mics)/(IC(a)+IC(b))") {
    val expected = 1.0 - 2.0 * ic(11) / (ic(3) + ic(2))
    val (_, lin, _) = toy.wordDistances("leafa", "leafb")
    assert(lin === math.floor(expected * 1e6 + 0.5) / 1e6)
  }

  test("JCN: 1 - (1/(IC(a)+IC(b)-2*IC(mics)))/MaxJcn") {
    val sim = 1.0 / (ic(3) + ic(2) - 2.0 * ic(11))
    val expected = 1.0 - sim / Lexical.MaxJcn
    val (jcn, _, _) = toy.wordDistances("leafa", "leafb")
    assert(jcn === math.floor(expected * 1e6 + 0.5) / 1e6)
  }

  test("equal words are 0 before lookup; OOV words are maximally distant") {
    assert(toy.wordDistances("zzz", "zzz") === ((0.0, 0.0, 0.0)))
    assert(toy.wordDistances("zzz", "leafa") === ((1.0, 1.0, 1.0)))
  }

  test("synonyms canonicalize before the graph walk") {
    assert(toy.wordDistances("la", "leafb") === toy.wordDistances("leafa", "leafb"))
  }

  test("compound alignment iterates the bigger set, truncated micro-mean") {
    // sets {leafa} vs {leafa, other}: bigger = {leafa, other};
    // leafa->leafa = 0, other->leafa = d(other, leafa); mean = d/2 floored
    val (j, _, _) = toy.compoundDistance(Seq("leafa"), Seq("leafa", "other"))
    val (ju, _, _) = toy.wordDistanceMicros("other", "leafa")
    assert(j === (ju / 2) / 1e6)
  }

  test("parse rejects cycles, undefined parents, and multiple roots") {
    def bad(src: String) =
      intercept[IllegalArgumentException](
        Lexical.Taxonomy.parse(src.linesIterator))
    assert(bad("a|b|1\nb|a|1").getMessage.contains("cycle") ||
      bad("a|b|1\nb|a|1").getMessage.contains("root"))
    assert(bad("root||1\nx|ghost|1").getMessage.contains("ghost"))
    assert(bad("r1||1\nr2||1\na|r1|1").getMessage.contains("root"))
    assert(bad("root||1\na|root|1\nz=ghost2").getMessage.contains("ghost2"))
  }

  test("single-node taxonomy loads and behaves (no bare root crash)") {
    // regression: `root` used a parent-edges-only formula, so a
    // taxonomy that validation accepted (one node, zero parent edges)
    // crashed later inside the first metric with NoSuchElementException
    val one = Lexical.Taxonomy.parse(Iterator("entity||5"))
    assert(one.wordDistances("entity", "entity") === ((0.0, 0.0, 0.0)))
    assert(one.wordDistances("entity", "zzz") === ((1.0, 1.0, 1.0)))
  }

  test("WNDB loader: Princeton data.noun fixture, hand-computed JCN/LIN/WUP") {
    val t = Lexical.Taxonomy.fromWndbDir(
      getClass.getResource("/wordnet").getPath)
    // fixture tree (uniform count 1/synset):
    //   entity
    //   ├ abstraction ── measure(=quantity), attribute
    //   └ object(=physical object) ── artifact ── cart(=wagon),
    //                                 living thing
    // subtree: entity=8, abstraction=3, object=4, artifact=2, leaves=1
    def icOf(sub: Double) = -math.log(sub / 8.0)
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val (jcn, lin, wup) = t.wordDistances("measure", "attribute")
    // WUP: lcs=abstraction depth 2, both words depth 3 -> sim 4/6
    assert(wup === r6(1.0 - 4.0 / 6.0))
    // LIN: mics=abstraction: 2*ic(3)/(ic(1)+ic(1))
    assert(lin === r6(1.0 - 2.0 * icOf(3) / (icOf(1) + icOf(1))))
    // JCN: 1 - (1/(2*ic(1) - 2*ic(3)))/MaxJcn
    assert(jcn === r6(1.0 -
      (1.0 / (2.0 * icOf(1) - 2.0 * icOf(3))) / Lexical.MaxJcn))
    // deeper pair across branches: cart(4) vs living thing(3), lcs=object(2)
    val (_, _, wup2) = t.wordDistances("cart", "living thing")
    assert(wup2 === r6(1.0 - 2.0 * 2.0 / (4 + 3)))
    // synset co-words became synonyms of the first word
    assert(t.wordDistances("quantity", "attribute") ===
      t.wordDistances("measure", "attribute"))
    assert(t.wordDistances("wagon", "cart") === ((0.0, 0.0, 0.0)))
    // underscored lemma surfaces with a space, like WordNet lemmas do
    val (_, _, wupObj) = t.wordDistances("physical object", "artifact")
    assert(wupObj === r6(1.0 - 2.0 * 2.0 / (2 + 3)))
  }

  test("WNDB loader survives a generated 341-synset Princeton file " +
      "(multi-word lemmas, pointer mix, hex w_cnt, license header)") {
    // deterministic branching-4 tree, depth 5 (1+4+16+64+256 = 341
    // synsets), so every subtree size is known by construction and the
    // metric pins below are computed from the DEFINITIONS, independent
    // of the parser. Every non-root lemma is multi-word (underscored);
    // even-digit-sum nodes carry a synonym co-word; the root carries 11
    // co-words so w_cnt exercises the hex parse ("0c"); pointers mix
    // %p (part meronym) and ~ (hyponym) BEFORE the hypernym, plus a
    // decoy second @ to the root that the first-@ convention must
    // ignore; the license header is leading-whitespace lines.
    val Branch = 4
    val paths: Seq[String] = Iterator
      .iterate(Seq(""))(ps => ps.flatMap(p => (0 until Branch).map(p + _)))
      .take(5).toSeq.flatten
    val offset: Map[String, String] =
      paths.zipWithIndex.map { case (p, i) => p -> f"${(i + 1) * 100}%08d" }.toMap
    def lemma(p: String) = if (p.isEmpty) "entity" else s"node_$p"
    val sb = new StringBuilder
    sb.append("  1 This generated file mimics the Princeton WordNet\n")
    sb.append("  2 data.noun license header; leading-whitespace lines\n")
    sb.append("  3 must be skipped by the loader.\n")
    for (p <- paths) {
      val words = Seq(lemma(p)) ++
        (if (p.isEmpty) (1 to 11).map(i => s"entity_alias_$i")
         else if (p.map(_ - '0').sum % 2 == 0) Seq(s"alias_$p") else Nil)
      val hypo = if (p.length < 4) p + "0" else ""
      val ptrs =
        if (p.isEmpty) Seq(s"~ ${offset("0")} n 0000")
        else {
          val hyperSym = if (p.length == 1) "@i" else "@"
          Seq(s"%p ${offset(p.dropRight(1))} n 0000",
            s"~ ${offset(hypo)} n 0000",
            s"$hyperSym ${offset(p.dropRight(1))} n 0000") ++
            (if (p.length >= 2) Seq(s"@ ${offset("")} n 0000") else Nil)
        }
      sb.append(s"${offset(p)} 03 n ${"%02x".format(words.size)} ")
      sb.append(words.map(w => s"$w 0").mkString(" "))
      sb.append(s" ${ptrs.size} ${ptrs.mkString(" ")} | generated synset $p\n")
    }
    val dir = tempDir("graft-wndb")
    java.nio.file.Files.writeString(dir.resolve("data.noun"), sb.toString)
    val t = Lexical.Taxonomy.fromWndbDir(dir.toString)

    // subtree sizes by construction: leaf 1, then 5, 21, 85, root 341
    def icOf(sub: Double) = -math.log(sub / 341.0)
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // 1-3: sibling leaves (depth 5, lcs = shared parent depth 4, sub 5)
    val (jcnS, linS, wupS) = t.wordDistances("node 0000", "node 0001")
    assert(wupS === r6(1.0 - 2.0 * 4.0 / (5 + 5)))
    assert(linS === r6(1.0 - 2.0 * icOf(5) / (icOf(1) + icOf(1))))
    assert(jcnS === r6(1.0 -
      (1.0 / (2.0 * icOf(1) - 2.0 * icOf(5))) / Lexical.MaxJcn))
    // 4-6: maximally separated leaves (lcs = root, IC(root) = 0)
    val (jcnX, linX, wupX) = t.wordDistances("node 0000", "node 3333")
    assert(wupX === r6(1.0 - 2.0 * 1.0 / (5 + 5)))
    assert(linX === 1.0, "zero-IC lcs makes LIN similarity 0")
    assert(jcnX === r6(1.0 - (1.0 / (2.0 * icOf(1))) / Lexical.MaxJcn))
    // 7-8: mid-level siblings (depth 3, lcs depth 2 with subtree 85)
    val (_, linM, wupM) = t.wordDistances("node 01", "node 02")
    assert(wupM === r6(1.0 - 2.0 * 2.0 / (3 + 3)))
    assert(linM === r6(1.0 - 2.0 * icOf(85) / (icOf(21) + icOf(21))))
    // 9-11: ancestor-descendant (lcs = the ancestor itself) — also the
    // first-@ proof: a root-parent mis-parse of any node on the 0-012-
    // 0123 chain (all carry the decoy @) would break these
    val (_, _, wupA) = t.wordDistances("node 0", "node 0123")
    assert(wupA === r6(1.0 - 2.0 * 2.0 / (2 + 5)))
    val (jcnA, _, wupB) = t.wordDistances("node 0123", "node 012")
    assert(wupB === r6(1.0 - 2.0 * 4.0 / (5 + 4)))
    assert(jcnA === r6(1.0 -
      (1.0 / (icOf(1) - icOf(5))) / Lexical.MaxJcn))
    // 12: deep-vs-deep across the decoy chain on the other flank
    val (_, _, wupC) = t.wordDistances("node 3210", "node 321")
    assert(wupC === r6(1.0 - 2.0 * 4.0 / (5 + 4)))
    // synonyms canonicalize: co-word of an even-digit-sum node, and one
    // of the root's 11 hex-exercising aliases
    assert(t.wordDistances("alias 0002", "node 0001") ===
      t.wordDistances("node 0002", "node 0001"))
    assert(t.wordDistances("alias 02", "node 02") === ((0.0, 0.0, 0.0)))
    // root alias (one of the 11 that push w_cnt into hex "0c"); LIN of
    // root-vs-root is the 0/0 IC degeneracy, so pin via a third node
    assert(t.wordDistances("entity alias 3", "node 0") ===
      t.wordDistances("entity", "node 0"))
  }

  test("builtin taxonomy is well-formed and covers schema vocabulary") {
    val t = Lexical.Taxonomy.builtin
    // related attribute words are closer than cross-branch words (LIN)
    val (_, linNear, _) = t.wordDistances("price", "cost")
    val (_, linFar, _) = t.wordDistances("price", "customer")
    assert(linNear < linFar)
    // identifier synonyms: id == identifier canonicalization
    assert(t.wordDistances("id", "identifier") === ((0.0, 0.0, 0.0)))
  }
}
