package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** [[Iterate.fixpoint]]'s three stop rules and what it reports: the
  * budget, a repeated signature and a step that returns its input, each
  * with the expected `rounds` and `converged`. KCore's peel is the
  * signature case on a real operator.
  */
class IterateFixpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def values(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  private def plusOne(df: DataFrame): DataFrame = df.select((col("v") + 1).as("v"))

  private lazy val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")

  // (case, loop, expected rounds, expected converged)
  private lazy val cases: Seq[(String, () => Iterate.Fixpoint[_], Int, Boolean)] = Seq(
    ("budget: the step never stops on its own",
      () => Iterate.fixpoint(Seq(1L, 2L).toDF("v"), 3)(plusOne), 3, false),
    ("budget of zero: init only",
      () => Iterate.fixpoint(Seq(1L).toDF("v"), 0)(plusOne), 0, false),
    // path 1-2-3-4-5 at k = 2: rounds 1 and 2 delete edges, round 3
    // deletes none and its edge count repeats
    ("signature repeats: KCore peels a chain in three rounds",
      () => KCore.peelToFixpoint(chain, k = 2, maxRounds = 20), 3, true),
    ("budget before the signature repeats: KCore with one round",
      () => KCore.peelToFixpoint(chain, k = 2, maxRounds = 1), 1, false),
    ("eq: the step returns its input once the values reach 3",
      () => Iterate.fixpoint(Seq(1L).toDF("v"), 10) { s =>
        if (values(s).head >= 3L) s else plusOne(s)
      }, 2, true),
    ("eq on the first step: the signature shows no work, no round runs",
      () => Iterate.fixpoint(Seq.empty[Long].toDF("v"), 10, (s: DataFrame) => s.count()) {
        (s, n) => if (n == 0L) s else plusOne(s)
      }, 0, true)
  )

  cases.foreach { case (name, loop, rounds, converged) =>
    test(s"stop rule, $name") {
      val fp = loop()
      assert((fp.rounds, fp.converged) == ((rounds, converged)))
    }
  }

  test("the result is the last landed state and each signature is computed once") {
    var signatures = 0
    val fp = Iterate.fixpoint(Seq(5L, 6L).toDF("v"), 4, { (s: DataFrame) =>
      signatures += 1
      values(s).map(_ min 7L)
    }) { (s, _) => plusOne(s) }
    // states 5,6 -> 6,7 -> 7,8 -> 8,9: signatures (5,6) (6,7) (7,7) (7,7)
    assert((fp.rounds, fp.converged) == ((3, true)))
    assert(values(fp.result) == Seq(8L, 9L))
    assert(signatures == 4, "one signature per landed state, init included")
  }
}
