package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Pipeline}

/** Scale rehearsal for the r18 script-ROUTED keying tier — the same
  * discipline as the other stored/keyed tiers (closed-form truth on
  * a deterministic planted corpus, 8M+ planted rows, timed phases,
  * nonzero exit on any failure): the routed differential that the
  * unit specs prove on 6-doc fixtures must hold, and stay cheap, at
  * a million documents.
  *
  * Corpus (pure function of doc_id; G = D/4 groups of 4 stripes):
  *  - stripe 0: 12 group-unique Latin tokens `t<g>p<i>` (the base);
  *  - stripe 1: the base upper-cased + ` !!!` — canonicalText equals
  *    the base exactly, so routed keying (which routes pure-Latin
  *    docs canonical) must collapse {0,1} per group;
  *  - stripe 2: the base + 6 tokens `你好<g>c<j>`;
  *  - stripe 3: the base + 6 tokens `再見<g>c<j>` — the canonical
  *    forms of stripes 2 and 3 are IDENTICAL (the Han prefix strips,
  *    the `<g>c<j>` tail survives), so canonical keying false-merges
  *    them, while routed keying keeps both raw (they carry Han).
  *
  * Closed form at D docs:
  *  - routed exact dedup: 3 groups per g → 3D/4 groups, exactly D/4
  *    of them with n_dups = 2 (the {0,1} collapse);
  *  - canonical exact dedup (the differential): 2 groups per g →
  *    D/2 groups — the false {2,3} merge silently drops D/4 docs;
  *  - routed ngram-LSH pairs: exactly the D/4 {0,1} pairs at
  *    jac_fs = 10000 (identical canonical token sets → identical
  *    signatures → deterministic collision; the cross-stripe
  *    near-misses sit at J ≤ 12/18 = 0.667, below the 0.9 verify);
  *  - curateFull(routedKeys = true): exactly 3D/4 survivors (stage 1
  *    drops stripe 1; stage 2 finds no further pairs; quality and
  *    repetition gates are opened wide).
  *
  *   tools/run.sh graft.RoutedRehearsal [D]
  */
object RoutedRehearsal {

  def main(args: Array[String]): Unit = {
    val d = args.lift(0).map(_.toLong).getOrElse(1048576L)
    require(d % 4 == 0 && d >= 400, s"D=$d must be a multiple of 4, >= 400")
    Rehearsals.run("routed", None) { run =>
      val spark = run.spark

      // ---- the planted corpus (pure function of doc_id) -----------------
      val g = (col("doc_id") / 4).cast("long")
      val stripe = col("doc_id") % 4
      def base(gc: org.apache.spark.sql.Column) =
        concat_ws(" ", transform(sequence(lit(0), lit(11)),
          i => concat(lit("t"), gc.cast("string"), lit("p"), i.cast("string"))))
      def hanTail(prefix: String) =
        concat_ws(" ", transform(sequence(lit(0), lit(5)),
          j => concat(lit(prefix), g.cast("string"), lit("c"), j.cast("string"))))
      def plantedText(prefixA: String, prefixB: String) =
        when(stripe === 0, base(g))
          .when(stripe === 1, concat(upper(base(g)), lit(" !!!")))
          .when(stripe === 2, concat(base(g), lit(" "), hanTail(prefixA)))
          .otherwise(concat(base(g), lit(" "), hanTail(prefixB)))
      def planted(prefixA: String, prefixB: String): DataFrame =
        spark.range(0L, d).select(col("id").as("doc_id"))
          .select(col("doc_id"), plantedText(prefixA, prefixB).as("text"),
            lit("xx").as("lang"), lit("plant").as("source"))
      def docs: DataFrame = planted("你好", "再見")
      // the r19 KANA twin corpus: stripes 2/3 differ only in their
      // two-kana tail prefixes — through r18 the five-script router
      // classified kana docs "pure Latin", so both stripes canonicalized
      // and false-merged exactly like the canonical differential below;
      // the inverted class must give kana the SAME closed form as Han
      def docsKana: DataFrame = planted("かな", "カナ")

      // ---- routed exact: closed-form group structure ---------------------
      run.timed("exact-routed") {
        val byDups = Dedup.exact(docs, routed = true)
          .groupBy(col("n_dups")).count().collect()
          .map(r => r.getAs[Long]("n_dups") -> r.getAs[Long]("count")).toMap
        run.check("exact routed groups",
          byDups == Map(1L -> d / 2, 2L -> d / 4))
      }

      // ---- the canonical differential at volume --------------------------
      run.timed("exact-canon-diff") {
        val nGroups = Dedup.exact(docs, canonical = true).count()
        run.check("canonical false-merge differential", nGroups == d / 2)
      }

      // ---- routed LSH pairs: exactly the canonical-twin pairs ------------
      run.timed("lsh-routed") {
        val pairs = Dedup.ngramLshPairs(docs, routed = true)
          .agg(count(lit(1)), min(col("jac_fs")), max(col("jac_fs"))).collect()(0)
        run.check("routed lsh pair set",
          pairs.getLong(0) == d / 4 && pairs.getLong(1) == 10000L
            && pairs.getLong(2) == 10000L)
      }

      // ---- curateFull end-to-end with routedKeys --------------------------
      run.timed("curate-routed") {
        val survivors = Pipeline.curateFull(docs, minQualityFs = 0L,
          maxRepetitionFs = 10000L, routedKeys = true)
        val n = survivors.count()
        run.check("curateFull routed survivors", n == 3 * d / 4)
        // every surviving mixed doc ships its RAW text (keying never
        // rewrites): stripe-2/3 survivors all still carry their Han tail
        val mixedRaw = survivors.filter(col("doc_id") % 4 >= 2)
          .filter(!col("text").rlike("[\\p{IsHan}]")).count()
        run.check("survivor text raw", mixedRaw == 0L)
      }

      // ---- r19: the kana tier at volume -----------------------------------
      // same closed form as Han under the inverted class (through r18
      // this read D/2 groups — the false-merge the class inversion
      // closes); the canonical differential stays D/2 by construction
      run.timed("exact-routed-kana") {
        val byDups = Dedup.exact(docsKana, routed = true)
          .groupBy(col("n_dups")).count().collect()
          .map(r => r.getAs[Long]("n_dups") -> r.getAs[Long]("count")).toMap
        run.check("kana routed groups",
          byDups == Map(1L -> d / 2, 2L -> d / 4))
      }
      run.timed("exact-canon-kana") {
        run.check("kana canonical false-merge differential",
          Dedup.exact(docsKana, canonical = true).count() == d / 2)
      }

      // ---- r19: the thresholded router at volume ---------------------------
      // the kana tails carry 12 kana chars on ~110-220-char docs — loss
      // sits in [~540, ~1120] fs for EVERY group, so a 1% floor routes
      // all of them (the Han closed form) and a 20% floor routes none
      // (the documented trade: the canonical D/2 false-merge returns)
      run.timed("floor-low") {
        run.check("floor 1% keeps the routed closed form",
          Dedup.exact(docsKana, routed = true, minLossFs = 100L).count() == 3 * d / 4)
      }
      run.timed("floor-high") {
        run.check("floor 20% hands the kana tails back to canonical keying",
          Dedup.exact(docsKana, routed = true, minLossFs = 2000L).count() == d / 2)
      }

      // ---- r19: the auto-keying steering wheel at volume -------------------
      run.timed("auto-keying") {
        run.check("scriptMix auto-picks routed on the mixed corpus",
          Pipeline.chooseKeying(docsKana) == "routed")
      }

      Seq("docs" -> d)
    }
  }
}
