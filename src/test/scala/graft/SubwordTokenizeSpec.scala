package graft


import graft.operators.TextAnalysis

/** Greedy longest-match subword tokenizer vs hand-computed encodings,
  * plus a differential check against a naive reference implementation. */
class SubwordTokenizeSpec extends SparkSpec {
  import spark.implicits._

  private def encode(text: String, vocab: Seq[String]): Seq[Int] =
    Seq(text).toDF("t")
      .select(TextAnalysis.subwordTokenize($"t", vocab).as("ids"))
      .as[Seq[Int]].head()

  test("longest match wins over shorter prefixes") {
    val v = Seq("ab", "abc", "b", "c", "a")
    assert(encode("abcab", v) == Seq(1, 0))   // abc + ab, not ab+c+ab
    assert(encode("abc abc", v) == Seq(1, 1)) // whitespace separates
    assert(encode("cba", v) == Seq(3, 2, 4))
  }

  test("unmatched characters become single-char UNK (-1)") {
    val v = Seq("ab", "a", "b")
    assert(encode("axb", v) == Seq(1, -1, 2))
    assert(encode("xyz", v) == Seq(-1, -1, -1))
    assert(encode("", v) == Seq())
    assert(encode("   ", v) == Seq())
  }

  test("pre-tokenizer splits letter runs, digit runs, single punct") {
    val v = Seq("ab", "1", "2", ",", "12")
    // letters and digits never merge across the class boundary; "12"
    // matches inside the digit run; "," is its own pre-token
    assert(encode("Ab12 2,x", v) == Seq(0, 4, 2, 3, -1))
  }

  test("demo vocab: hand-computed splits of corpus words") {
    val v = TextAnalysis.demoVocab
    def id(p: String) = v.indexOf(p)
    assert(encode("customer", v) == Seq(id("cust"), id("omer")))
    assert(encode("tables", v) == Seq(id("tab"), id("le"), id("s")))
    assert(encode("the them", v) == Seq(id("the"), id("the"), id("m")))
    assert(encode("query window", v) ==
      Seq(id("quer"), id("y"), id("wind"), id("ow")))
    assert(encode("value column vector filter", v) ==
      Seq(id("val"), id("ue"), id("col"), id("umn"),
        id("vect"), id("or"), id("filt"), id("er")))
    assert(encode("4242-v7~", v) ==
      Seq(id("4"), id("2"), id("4"), id("2"), id("-"), id("v"), id("7"), -1))
  }

  test("differential: matches a naive greedy reference on random text") {
    val vocab = Seq("a", "b", "c", "ab", "bc", "abc", "ca", "1", "12", ",")
    def naive(text: String): Seq[Int] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      val words = "[a-z]+|[0-9]+|[^a-z0-9\\s]".r
        .findAllIn(text.toLowerCase).toSeq
      words.foreach { w =>
        var pos = 0
        while (pos < w.length) {
          val cand = vocab.zipWithIndex
            .filter { case (p, _) => w.startsWith(p, pos) }
          if (cand.isEmpty) { out += -1; pos += 1 }
          else {
            val (p, i) = cand.maxBy(_._1.length)
            out += i; pos += p.length
          }
        }
      }
      out.toSeq
    }
    val rnd = new scala.util.Random(7)
    val alphabet = "abcd12 ,~"
    (0 until 200).foreach { _ =>
      val s = (0 until rnd.nextInt(30))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(encode(s, vocab) == naive(s), s"text='$s'")
    }
  }
}
