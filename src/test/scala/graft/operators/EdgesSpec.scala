package graft.operators

import graft.{Fixtures, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The flat edge APIs must be value-equivalent to exploding the
  * array-typed reference outputs, across strategies and checked-set
  * shapes. */
class EdgesSpec extends SparkTestBase {
  import PdqDuplicates.Strategy

  private def explodeUrl(out: DataFrame): Set[(String, String)] =
    out.select(col("index"), explode(col("url_duplicates")).as("p"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

  private def explodePdq(out: DataFrame): Set[(String, String, Double)] =
    out.select(col("index"), col("pdq_hash_similarities"), posexplode(col("pdq_hash_duplicates")))
      .select(col("index"), col("col"), element_at(col("pdq_hash_similarities"), col("pos") + 1))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet

  private def urlOnly = Fixtures.sampleData(spark).select("index", "url")
  private def pdqOnly = Fixtures.sampleData(spark).select("index", "pdq_hash")

  for (checked <- Seq(None, Some(Seq("UW0001", "UW0005")), Some(Seq("UW0004")))) {
    val label = checked.fold("all")(_.mkString("+"))

    test(s"url edges ≡ exploded arrays [checked=$label]") {
      val arrays = explodeUrl(UrlDuplicates(urlOnly, checked))
      val flat = UrlDuplicates.edges(urlOnly, checked)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(flat == arrays)
      assert(flat.nonEmpty)
    }

    for (s <- Seq(Strategy.Naive, Strategy.Banded, Strategy.Auto)) {
      test(s"pdq edges ≡ exploded arrays [checked=$label, $s]") {
        val arrays = explodePdq(PdqDuplicates(pdqOnly, checked, Fixtures.threshold, s))
        val flat = PdqDuplicates.edges(pdqOnly, checked, Fixtures.threshold, s)
          .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
        assert(flat == arrays)
        assert(flat.nonEmpty)
      }
    }

    test(s"detect edges ≡ exploded array output [checked=$label]") {
      val out = DetectDuplicates(Fixtures.sampleData(spark), checked, Fixtures.threshold)
      val urlArr = explodeUrl(out.filter(col("url_duplicates").isNotNull))
        .map { case (i, p) => (i, "url", p, Double.NaN) }
      val pdqArr = explodePdq(out.filter(col("pdq_hash_duplicates").isNotNull))
        .map { case (i, p, sim) => (i, "pdq", p, sim) }
      val flat = DetectDuplicates.edges(Fixtures.sampleData(spark), checked, Fixtures.threshold)
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
          if (r.isNullAt(3)) Double.NaN else r.getDouble(3))).toSet
      // NaN stands in for url's NULL similarity on both sides
      def key(t: (String, String, String, Double)) =
        (t._1, t._2, t._3, if (t._4.isNaN) -1.0 else t._4)
      assert(flat.map(key) == (urlArr ++ pdqArr).map(key))
    }
  }

  /** The benchmark's shape in small: 20 cliques of 100 rows over four
    * partitions. Each clique carries two hashes 1 bit apart (every fifth
    * member on the variant); cliques lie about 128 bits apart, so the
    * edges are exactly the 20·100·99 ordered in-clique pairs. */
  private def cliques: DataFrame = {
    val rnd = new scala.util.Random(7)
    val rows = for {
      c <- 0 until 20
      base = Seq.fill(4)(f"${rnd.nextLong()}%016x").mkString
      variant = base.init + (if (base.last == '0') "1" else "0")
      m <- 0 until 100
    } yield (f"c$c%02d_m$m%03d", Seq(if (m % 5 == 0) variant else base))
    spark.createDataFrame(rows).toDF("index", "pdq_hash").repartition(4)
  }

  for (s <- Seq(Strategy.Naive, Strategy.Banded, Strategy.Auto); fixed <- Seq(true, false)) {
    test(s"pdq edges on 20 cliques × 100: every in-clique pair once, ≡ arrays [$s, assumeFixed256=$fixed]") {
      val df = cliques
      val flat = PdqDuplicates.edges(df, None, 0.98, s, assumeFixed256 = fixed)
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      assert(flat.length == 20 * 100 * 99)
      assert(flat.map(e => (e._1, e._2)).distinct.length == flat.length)
      assert(flat.forall { case (i, p, _) => i != p && i.take(3) == p.take(3) })
      assert(flat.toSet == explodePdq(PdqDuplicates(df, None, 0.98, s, assumeFixed256 = fixed)))
    }
  }

  test("pdq edges: empty checked -> empty flat frame with edge schema") {
    val got = PdqDuplicates.edges(pdqOnly, Some(Nil), Fixtures.threshold, Strategy.Naive)
    assert(got.count() == 0)
    assert(got.columns.toSeq == Seq("index", "partner", "similarity"))
  }
}
