package graft

import graft.operators.FuzzyJoin
import org.scalatest.funsuite.AnyFunSuite

/** Completeness + plan-shape proof of the deletion-neighborhood fuzzy join
  * on a corpus big enough to expose quadratic plans: the harness vocabulary
  * is ~31 words at sf0.01, so this spec builds its own 10⁴-word vocabulary
  * with planted near-duplicates and checks the blocked join against a
  * driver-side exact all-pairs computation. */
class FuzzyJoinSpec extends AnyFunSuite with SparkFixture {

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1)(i => i)
    for (j <- 1 to b.length) {
      var prev = d(0); d(0) = j
      for (i <- 1 to a.length) {
        val t = d(i)
        d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = t
      }
    }
    d(a.length)
  }

  // Fixed-seed vocabulary: random base words + planted mutations at edit
  // distance 1-2 (substitution / insertion / deletion), so true matches
  // exist at every distance and the exact answer is computable driver-side.
  private lazy val vocab: Seq[String] = {
    val rnd = new scala.util.Random(42)
    def word(): String =
      (0 until 3 + rnd.nextInt(9)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    def mutate(w: String): String = rnd.nextInt(3) match {
      case 0 => // substitute
        val i = rnd.nextInt(w.length)
        w.updated(i, ('a' + rnd.nextInt(26)).toChar)
      case 1 => // insert
        val i = rnd.nextInt(w.length + 1)
        w.substring(0, i) + ('a' + rnd.nextInt(26)).toChar + w.substring(i)
      case _ => // delete
        val i = rnd.nextInt(w.length)
        w.substring(0, i) + w.substring(i + 1)
    }
    val bases = Seq.fill(400)(word())
    val mutants = bases.flatMap { w =>
      val m1 = mutate(w)
      Seq(m1, mutate(m1)) // distance ≤ 1 and ≤ 2 from w
    }
    (bases ++ mutants).distinct
  }

  test("blocked fuzzy join finds exactly the lev<=2 pairs of a 10^3+ vocab") {
    import spark.implicits._
    val words = vocab.toDF("word")
    val got = FuzzyJoin.matchPairs(words, "word", maxDist = 2)
      .select("w1", "w2", "dist")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    val expected = (for {
      i <- vocab.indices.iterator
      j <- vocab.indices.iterator
      if vocab(i) < vocab(j)
      d = lev(vocab(i), vocab(j))
      if d <= 2
    } yield (vocab(i), vocab(j), d.toLong)).toSet
    assert(expected.nonEmpty, "planted mutants must produce true matches")
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("BoundedLev.within == min(levenshtein, k+1) on random word pairs") {
    val rnd = new scala.util.Random(11)
    def w(): String =
      (0 until rnd.nextInt(12)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    for (_ <- 1 to 5000; k <- 0 to 3) {
      val (a, b) = (w(), w())
      val expected = math.min(lev(a, b), k + 1)
      assert(graft.functions.BoundedLev.within(a, b, k) == expected,
        s"a='$a' b='$b' k=$k")
    }
  }

  test("candidate join is an equi join — no nested-loop / cartesian plan") {
    import spark.implicits._
    val words = vocab.toDF("word")
    val p = FuzzyJoin.matchPairs(words, "word").queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }
}
