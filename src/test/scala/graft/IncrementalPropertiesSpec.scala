package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Incremental

/** Seeded random sweep of Incremental.admit against a driver-side model
  * of its whole contract — md5 exact checks, DF-capped shingle candidate
  * generation, full-set r4-quantized Jaccard verification, greedy
  * first-wins, reason priority — on corpora with planted exact copies
  * and single-token mutations across both the existing and delta sides.
  */
class IncrementalPropertiesSpec extends AnyFunSuite with LocalSparkSuite {

  private val NGram = 5
  private val MaxDf = 50
  private val MinJ = 0.8

  private def shingles(text: String): Set[String] = {
    val toks = text.trim.split("\\s+").filter(_.nonEmpty)
    if (toks.length < NGram) Set.empty
    else toks.sliding(NGram).map(_.mkString(" ")).toSet
  }

  private def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000

  /** The operator's contract as a naive model. */
  private def model(existing: Seq[(Long, String)],
      delta: Seq[(Long, String)]): Map[Long, String] = {
    val exTexts = existing.map(_._2).toSet
    val all = existing.map { case (id, t) => (id, true, t) } ++
      delta.map { case (id, t) => (id, false, t) }
    val sh = all.map { case (id, oe, t) => (id, oe, shingles(t)) }
    val df = sh.flatMap(_._3.toSeq).groupBy(identity).map { case (s, xs) => s -> xs.size }
    val eligible = sh.map { case (id, oe, s) =>
      (id, oe, s.filter(df(_) <= MaxDf))
    }
    val fullSets = sh.map { case (id, _, s) => id -> s }.toMap
    def near(d: Long, dEleg: Set[String], o: Long, oEleg: Set[String]): Boolean =
      dEleg.intersect(oEleg).nonEmpty && {
        val (a, b) = (fullSets(d), fullSets(o))
        val inter = a.intersect(b).size
        val union = a.size + b.size - inter
        union > 0 && r4(inter.toDouble / union) >= MinJ
      }
    delta.map { case (id, text) =>
      val myEleg = eligible.find(e => e._1 == id && !e._2).get._3
      val exactExisting = exTexts.contains(text)
      val exactInternal = delta.exists { case (o, t) => o < id && t == text }
      val nearExisting = eligible.exists { case (o, oe, s) =>
        oe && near(id, myEleg, o, s)
      }
      val nearInternal = eligible.exists { case (o, oe, s) =>
        !oe && o < id && near(id, myEleg, o, s)
      }
      id -> (if (exactExisting) "exact_dup_existing"
        else if (exactInternal) "exact_dup_internal"
        else if (nearExisting) "near_dup_existing"
        else if (nearInternal) "near_dup_internal"
        else "accepted")
    }.toMap
  }

  test("admit equals the model on random corpora with planted exact " +
      "copies and single-token mutations") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val seen = scala.collection.mutable.Set[String]()
    for (trial <- 1 to 3) {
      // base texts over a tiny pool so shingle sharing happens naturally
      val pool = (0 until 14).map(i => s"t$i")
      def fresh(): String =
        (0 until 24 + rng.nextInt(16)).map(_ => pool(rng.nextInt(pool.size))).mkString(" ")
      // append keeps every original shingle (j ~ n/(n+1): fires near);
      // replace kills ~NGram shingles mid-doc (usually just misses the
      // 0.8 cut on these lengths: exercises the non-firing gray zone)
      def mutate(t: String): String =
        if (rng.nextBoolean()) t + s" m${rng.nextInt(99)}"
        else {
          val toks = t.split(" ").toBuffer
          toks(rng.nextInt(toks.size)) = s"m${rng.nextInt(99)}"
          toks.mkString(" ")
        }
      val bases = (0 until 10).map(_ => fresh())
      var id = 0L
      def nextId(): Long = { id += 1; id }
      // existing: some bases; delta: mix of fresh, exact copies of
      // existing/earlier-delta, and near mutations of both
      val existing = bases.take(6).map(t => nextId() -> t)
      val deltaTexts = scala.collection.mutable.Buffer[String]()
      (0 until 14).foreach { _ =>
        val roll = rng.nextInt(5)
        val t =
          if (roll == 0 && existing.nonEmpty)
            existing(rng.nextInt(existing.size))._2
          else if (roll == 1 && deltaTexts.nonEmpty)
            deltaTexts(rng.nextInt(deltaTexts.size))
          else if (roll == 2 && existing.nonEmpty)
            mutate(existing(rng.nextInt(existing.size))._2)
          else if (roll == 3 && deltaTexts.nonEmpty)
            mutate(deltaTexts(rng.nextInt(deltaTexts.size)))
          else fresh()
        deltaTexts += t
      }
      val delta = deltaTexts.toSeq.map(t => nextId() -> t)

      val got = Incremental.admit(
        existing.toDF("doc_id", "text"), delta.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = model(existing, delta)
      assert(got == want,
        s"trial $trial diverged:\n" +
          (got.keySet ++ want.keySet).toSeq.sorted
            .filter(k => got.get(k) != want.get(k))
            .map(k => s"  doc $k: got ${got.get(k)}, want ${want.get(k)}, " +
              s"text='${delta.toMap.get(k)}'").mkString("\n"))
      seen ++= want.values
    }
    // the sweep must not silently go vacuous: every decision family
    // has to have fired at least once across the trials
    for (d <- Seq("accepted", "exact_dup_existing", "exact_dup_internal",
        "near_dup_existing", "near_dup_internal"))
      assert(seen.contains(d), s"sweep never produced '$d' (got $seen)")
  }
}
