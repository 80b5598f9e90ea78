package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Iterate

/** Distributed byte-pair-encoding merge learning (Sennrich et al.,
  * ACL'16) — the tokenizer-training step of an LLM data pipeline, over
  * the engine's corpus instead of a single-node word counter.
  *
  * Exactly the classic algorithm: operate on the DISTINCT-word table
  * weighted by word frequency (what single-node BPE trainers do — corpus
  * size only enters through the one word-count aggregation); per round,
  * count adjacent symbol pairs, take the globally most frequent (ties:
  * lexicographically smallest pair — a total order, so training is a
  * pure function of the corpus), and merge it greedily left-to-right in
  * every word.
  *
  * Representation: a word's symbol sequence is ONE string with each
  * symbol wrapped in u0002…u0003 sentinels. Merging is then a literal
  * `replace` of `⟨a⟩⟨b⟩` with `⟨ab⟩` — and because SQL replace scans
  * left-to-right non-overlapping, it IS the BPE greedy merge (a match
  * consumes its characters, so an overlapping second occurrence doesn't
  * fire — the `aaa` case merges once, exactly like the reference
  * implementations). Every engine with a literal replace reproduces
  * training bit-for-bit; the oracle unrolls rounds as CTEs with scalar
  * subqueries for the winners.
  *
  * Scale shape: each round is one explode + two-phase weighted count
  * over the VOCABULARY (not the corpus), a driver-side 1-row winner
  * collect (the learned merge table is bounded model state, like the
  * k-means centroids), and one map-only replace. The rounds run through
  * [[graft.operators.Iterate.fixpoint]] (materialize and release per
  * round).
  */
object BpeTrainer {

  val L = "\u0002"
  val R = "\u0003"

  case class Merge(round: Int, a: String, b: String, cnt: Long)

  /** Word → sentinel-wrapped single-char symbols. */
  def wrap(word: Column): Column =
    regexp_replace(word, "(.)", L + "$1" + R)

  /** Wrapped string → symbol array. */
  def symbols(s: Column): Column =
    split(s.substr(lit(2), length(s) - 2), R + L)

  /** Learn `rounds` merges from a (word, freq) table. Words containing
    * the sentinel characters must be filtered by the caller. Returns the
    * merge table; stops early if no adjacent pair remains.
    */
  def train(words: DataFrame, rounds: Int): Seq[Merge] = {
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    val last = Iterate.fixpoint(
      words.select(col("word"), col("freq"), wrap(col("word")).as("s")),
      rounds) { cur =>
      val withPairs = cur
        .withColumn("arr", symbols(col("s")))
        .withColumn("prs",
          when(size(col("arr")) < 2,
            array().cast("array<struct<a:string,b:string>>"))
            .otherwise(transform(
              sequence(lit(1), size(col("arr")) - 1),
              i => struct(element_at(col("arr"), i).as("a"),
                element_at(col("arr"), i + 1).as("b")))))
      val win = withPairs
        .select(explode(col("prs")).as("p"), col("freq"))
        .groupBy(col("p").getField("a").as("a"),
          col("p").getField("b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      if (win.isEmpty) cur // no adjacent pair left: the loop stops
      else {
        val (a, b, c) =
          (win(0).getString(0), win(0).getString(1), win(0).getLong(2))
        merges += Merge(merges.size + 1, a, b, c)
        cur.withColumn("s",
          replace(col("s"), lit(L + a + R + L + b + R), lit(L + a + b + R)))
      }
    }.result
    // only the merge table is returned: the last state's blocks are dead
    Iterate.release(last)
    merges.toSeq
  }

  /** Apply an ordered merge table to a word column: wrap, then replay
    * each merge as the same greedy replace used in training. Returns the
    * final wrapped-symbol string (count symbols via [[symbols]]).
    */
  def encode(word: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(wrap(word)) { (s, m) =>
      replace(s, lit(L + m.a + R + L + m.b + R), lit(L + m.a + m.b + R))
    }
}
