package graft.tools

import org.apache.spark.sql.functions._

/** Synthesize a SKEW-TORTURE corpus at sf0.1 cardinality — same row
  * counts per table as /root/testdata/sf0.1 so per-query wall-clock
  * compares 1:1 against the uniform board, but with the hostile key
  * distributions the shipped (uniform-by-construction) testdata never
  * exercises. All 10x/100x scale evidence to date is uniform; this is
  * the corpus that makes the engine's skew machinery (capped bucket
  * pairs, boundedMembers, the identical-set collapse, groupedRank,
  * salted joins) actually ENGAGE:
  *
  *  - documents: 40% of rows are byte-identical copies of ONE
  *    boilerplate text (a giant exact-dup cluster that is also one hot
  *    LSH bucket in EVERY band and one hot shingle posting list), plus
  *    10% near-variants of it (boilerplate + one varying tail word —
  *    high-Jaccard neighbors that stress verify, not just blocking);
  *    90% of docs carry one lang and one source (zipfian shares — the
  *    low-cardinality-key torture for anything keyed by lang/source).
  *  - embeddings: 40% of vectors sit in ONE tight cluster (a fixed
  *    centroid + per-vector deterministic jitter) on ONE label — the
  *    hot IVF cell / SemDeDup label-block / k-means giant-cluster case.
  *  - events: 90% of events belong to ONE user and one event type —
  *    the hot join/session key.
  *
  * Everything is a deterministic column expression of the row id (no
  * RNG), so reruns are byte-identical and every DuckDB oracle replays
  * bit-for-bit on the skew corpus too — correctness on hostile data is
  * hash-graded, not spot-checked. TPC-H tables copy verbatim (their
  * graded joins are broadcast-dim shapes; the corpus families are
  * where skew kills).
  *
  * Usage: `sbt "runMain graft.tools.MakeSkew [outDir] [copies]"`
  * (default target/skew, 1 copy — inside the repo, gitignored).
  *
  * `copies` (r18, the skew-x-scale knob): replicate the skewed
  * DOCUMENTS table id-shifted `copies` times. Unlike MakeSf1's
  * zero-shared-vocabulary copies, the boilerplate rows stay
  * BYTE-IDENTICAL across copies — at copies=10 the giant exact-dup
  * cluster (and its near-variant halo, and the hot LSH bucket, and
  * the giant connected component) is 10x BIGGER, which is exactly the
  * compounding the CC family must survive (log^2 n rounds, not
  * output-quadratic). Non-boilerplate originals get a per-copy marker
  * word so the long tail grows with volume instead of turning into
  * 10-copy clusters. Other tables stay at sf0.1 cardinality — the
  * skew-x-scale question is the documents dedup/CC family.
  */
object MakeSkew {

  /** ~40 lowercase-alnum words — enough for full shingle/minhash
    * signatures; charset matches the corpus ([a-z0-9 ]) so tokenizers
    * see it as ordinary text.
    */
  private[graft] val Boilerplate: String =
    "this content is provided for informational purposes only and does " +
      "not constitute professional advice always consult a qualified " +
      "expert before making decisions all rights reserved reproduction " +
      "in whole or in part without permission is prohibited the " +
      "publisher assumes no liability for errors or omissions in this " +
      "material thank you for reading and please subscribe"

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("target/skew")
    val copies = args.lift(1).map(_.toInt).getOrElse(1)
    require(copies >= 1 && copies <= 100, s"copies in [1,100], got $copies")
    val src = "/root/testdata/sf0.1"
    val spark = graft.Session.build(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", "32")

    def load(t: String) = spark.read.parquet(s"$src/$t.parquet")

    // verbatim copies — graded TPC-H joins are broadcast-dim shapes
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")) {
      load(t).write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[skew] $t copied")
    }

    // documents: 40% one boilerplate, 10% near-variants, zipfian
    // lang/source (90% on one value; doc_id % 10 == 7 keeps originals
    // so the long tail survives for group-by queries)
    val docs = load("documents")
    val bucket = col("doc_id") % 10
    val text = when(bucket < 4, lit(Boilerplate))
      .when(bucket === 4,
        concat(lit(Boilerplate + " trailing variant w"),
          (col("doc_id") % 13).cast("string")))
      .otherwise(col("text"))
    val base = docs
      .withColumn("text", text)
      .withColumn("n_chars",
        when(bucket <= 4, length(col("text")).cast("long"))
          .otherwise(col("n_chars")))
      .withColumn("lang",
        when(bucket === 7, col("lang")).otherwise(lit("en")))
      .withColumn("source",
        when(bucket === 7, col("source")).otherwise(lit("src0")))
    // copies > 1: id-shifted replicas; boilerplate/variant rows stay
    // byte-identical (the giant cluster GROWS with volume), originals
    // get a per-copy marker word (the long tail stays a long tail).
    // bucket reads the PRE-SHIFT doc_id, so each replica's mix is
    // identical to the base corpus's.
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    val all = (0 until copies).map { c =>
      if (c == 0) base
      else base
        .withColumn("text", when(bucket <= 4, col("text"))
          .otherwise(concat(col("text"), lit(s" cpy$c"))))
        .withColumn("n_chars",
          when(bucket <= 4, col("n_chars"))
            .otherwise(length(col("text")).cast("long")))
        .withColumn("doc_id", col("doc_id") + lit(c * maxId))
    }.reduce(_ unionAll _)
    all.write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"[skew] documents done ($copies cop${if (copies == 1) "y" else "ies"})")

    // embeddings: 40% in one tight cluster on one label. Centroid and
    // jitter are integer-derived so the corpus is reproducible and the
    // cluster is tight but has NO exact ties (jitter varies per vec).
    val emb = load("embeddings")
    val vb = col("vec_id") % 10
    val hotVec = expr(
      """transform(sequence(0, 63), d -> CAST(
        |  (CAST((d * 37) % 19 AS DOUBLE) - 9.0) / 10.0 +
        |  (CAST((vec_id * 31 + d * 7) % 11 AS DOUBLE) - 5.0) * 0.002
        |AS FLOAT))""".stripMargin)
    emb
      .withColumn("embedding",
        when(vb < 4, hotVec).otherwise(col("embedding")))
      .withColumn("label",
        when(vb < 4, lit(0)).otherwise(col("label")))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println("[skew] embeddings done")

    // events: 90% of rows on ONE user and one event type
    val ev = load("events")
    val eb = col("event_id") % 10
    ev
      .withColumn("user_id",
        when(eb === 0, col("user_id")).otherwise(lit(42L)))
      .withColumn("event_type",
        when(eb === 0, col("event_type")).otherwise(lit("view")))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    println("[skew] events done")

    println(s"[skew] all tables written to $out")
    spark.stop()
  }
}
