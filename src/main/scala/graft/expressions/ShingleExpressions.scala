package graft.expressions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** UTF8String binary order, the order `array_sort` gives strings.
  * `UTF8String.compareTo` returns the same order, but it looks up an
  * environment variable on every call and throws when `spark.testing`
  * is set. */
private[expressions] object Utf8BinaryOrder extends java.util.Comparator[UTF8String] {
  override def compare(a: UTF8String, b: UTF8String): Int = a.binaryCompare(b)
}

/** word_shingles(text, n) — sorted distinct word n-grams of a document,
  * in one pass.
  *
  * Produces exactly the value of the Column formulation
  * `array_sort(array_distinct(transform(sequence(0, greatest(|toks|-n,0)),
  * i => concat_ws(" ", slice(toks, i+1, n)))))` over
  * `toks = split(trim(lower(text)), "\s+")`:
  *  - lowercase + trim + whitespace split (Java regex `\s+`, keeping the
  *    leading empty token for all-empty input, as `split` does);
  *  - if |toks| ≤ n a single shingle of all tokens, else |toks|−n+1;
  *  - distinct, sorted by UTF8String binary order (= array_sort on
  *    strings).
  *
  * Exists because the HOF chain above evaluates interpreted per element
  * and was the dominant scan-side cost of every set-similarity operator;
  * this is one compiled eval per row.
  */
case class WordShingles(children: Seq[Expression], n: Int)
  extends Expression with CodegenFallback {

  require(n >= 1, s"shingle n=$n")

  private val ws = Pattern.compile("\\s+")

  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def eval(input: InternalRow): Any = {
    val v = children(0).eval(input)
    if (v == null) return null
    // Spark's trim() strips the SPACE character only (not \t/\n like
    // Java's String.trim) — match it exactly, the oracle does too.
    // Lowercase via UTF8String (Spark's own lower(): locale-independent
    // ASCII fast path — String.toLowerCase would diverge under e.g. a
    // Turkish default locale).
    val lowered = v.asInstanceOf[UTF8String].toLowerCase.toString
    var from = 0
    var until = lowered.length
    while (from < until && lowered.charAt(from) == ' ') from += 1
    while (until > from && lowered.charAt(until - 1) == ' ') until -= 1
    val text = lowered.substring(from, until)
    // Java's String.split drops trailing empties but keeps a leading
    // empty token for strings starting with a separator; on the empty
    // string it returns [""]. Spark's split() matches this with limit -1
    // except it KEEPS trailing empties; after trim there are none.
    val toks = ws.split(text, -1)
    val nToks = toks.length
    val out = new java.util.TreeSet[UTF8String](Utf8BinaryOrder)
    if (nToks <= n) {
      out.add(UTF8String.fromString(toks.mkString(" ")))
    } else {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= nToks - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out.add(UTF8String.fromString(sb.toString))
        i += 1
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next(); k += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(children = c)
  override def prettyName: String = "word_shingles"
}

/** word_ngrams(text, n) — word n-grams WITH multiplicity, in document
  * order: the counting complement of [[WordShingles]] (whose distinct
  * set feeds similarity operators). Same tokenization contract
  * (space-trim + lowercase + `\s+` split, one all-token gram when the
  * document is shorter than n). One compiled pass per row — the HOF
  * chain (`transform(sequence(...), i => concat_ws(slice(...)))`)
  * evaluates interpreted per element and rebuilds the slice per
  * position, which dominated the heavy-hitter scan cost. */
case class WordNgrams(children: Seq[Expression], n: Int)
  extends Expression with CodegenFallback {

  require(n >= 1, s"ngram n=$n")

  private val ws = Pattern.compile("\\s+")

  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def eval(input: InternalRow): Any = {
    val v = children(0).eval(input)
    if (v == null) return null
    val lowered = v.asInstanceOf[UTF8String].toLowerCase.toString
    var from = 0
    var until = lowered.length
    while (from < until && lowered.charAt(from) == ' ') from += 1
    while (until > from && lowered.charAt(until - 1) == ' ') until -= 1
    val toks = ws.split(lowered.substring(from, until), -1)
    val nToks = toks.length
    if (nToks <= n) {
      new GenericArrayData(Array[Any](UTF8String.fromString(toks.mkString(" "))))
    } else {
      val arr = new Array[Any](nToks - n + 1)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= nToks - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        arr(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new GenericArrayData(arr)
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(children = c)
  override def prettyName: String = "word_ngrams"
}
