package graft

import java.nio.file.Files

import graft.sinks.SqliteCli

/** The reference's ACTUAL output surface — a SQLite `.db` file —
  * exercised against real SQLite through the `sqlite3` CLI (no JDBC
  * jar exists in this offline env; the binary ships with miniconda).
  * Goldens mirror the reference's own end-to-end tests byte-for-byte
  * (`tests/test_csvs_to_sqlite.py` test_flat :41-71, test_fts
  * :167-188, test_fts_and_extract_columns :200-229).
  */
class SqliteCliSpec extends SparkSpec {

  private def dbFile(): String =
    Files.createTempDirectory("graft-realdb").resolve("test.db").toString

  private def cfg(paths: Seq[String]) =
    Pipeline.Config(paths = paths, dbName = "test.db")

  test("real .db: golden PRAGMA table_info incl. the int-or-null district (test_flat)") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    val csv = tempCsv("test.csv", Fixtures.CSV)
    val r = Pipeline.run(spark, cfg(Seq(csv)))
    val f = dbFile()
    SqliteCli.writeDb(f, r)
    val info = SqliteCli.query(f, "PRAGMA table_info([test]);")
      .map(row => (row(1).get, row(2).get))
    assert(info === Seq(
      "county" -> "TEXT", "precinct" -> "INTEGER", "office" -> "TEXT",
      "district" -> "INTEGER", "party" -> "TEXT", "candidate" -> "TEXT",
      "votes" -> "INTEGER"))
    val rows = SqliteCli.query(f,
      "SELECT county, precinct, office, district, party, candidate, votes FROM [test];")
    assert(rows.length === 6)
    assert(rows.head === Seq(Some("Yolo"), Some("100001"), Some("President"),
      None, Some("LIB"), Some("Gary Johnson"), Some("41")))
    assert(rows.last === Seq(Some("Yolo"), Some("100001"), Some("State Assembly"),
      Some("7"), Some("REP"), Some("Ryan K. Brown"), Some("291")))
  }

  test("real .db: FTS5 MATCH 'president gloria' finds exactly the reference row (test_fts)") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    val csv = tempCsv("test.csv", Fixtures.CSV)
    val r = Pipeline.run(spark, cfg(Seq(csv))
      .copy(ftsColumns = Seq("office", "party", "candidate")))
    val f = dbFile()
    SqliteCli.writeDb(f, r)
    val hits = SqliteCli.query(f,
      """SELECT county, precinct, office, party, candidate
        |FROM test
        |WHERE rowid IN (
        |  SELECT rowid FROM test_fts WHERE test_fts MATCH 'president gloria'
        |);""".stripMargin)
    assert(hits === Seq(Seq(Some("Yolo"), Some("100001"), Some("President"),
      Some("PAF"), Some("Gloria Estela La Riva"))))
  }

  test("real .db: custom indexes land in sqlite_master with golden names (test_custom_indexes)") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    val csv = tempCsv("test.csv", Fixtures.CSV)
    val r = Pipeline.run(spark, cfg(Seq(csv))
      .copy(indexes = Seq("county", "party,candidate")))
    val f = dbFile()
    SqliteCli.writeDb(f, r)
    val idx = SqliteCli.query(f,
      """SELECT name, tbl_name FROM sqlite_master
        |WHERE type = 'index' ORDER BY name;""".stripMargin)
      .map(row => (row(0).get, row(1).get))
    // The reference brackets an already-quoted name (`utils.py:496`), so the
    // stored index name includes literal double quotes — its own golden
    // (`tests/test_csvs_to_sqlite.py:567-569`) asserts exactly that.
    assert(idx === Seq("\"test_county\"" -> "test", "\"test_party_candidate\"" -> "test"))
  }

  test("real .db: -pk columns become real PRIMARY KEY columns (test_custom_primary_keys)") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    val csv = tempCsv("pks.csv", Fixtures.CSV_CUSTOM_PRIMARY_KEYS)
    val r = Pipeline.run(spark, cfg(Seq(csv))
      .copy(primaryKeys = Seq("pk1", "pk2")))
    val f = dbFile()
    SqliteCli.writeDb(f, r)
    val pks = SqliteCli.query(f, "PRAGMA table_info([pks]);")
      .filter(row => row.last.get != "0").map(_(1).get)
    assert(pks === Seq("pk1", "pk2"))
  }

  test("real .db: incremental append extends facts, reuses lookup ids, syncs shadow FTS") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    val out = Files.createTempDirectory("graft-realdb-out").toString
    val f = dbFile()
    val csv1 = tempCsv("test.csv", Fixtures.CSV_MULTI)
    val base = cfg(Seq(csv1)).copy(
      extractColumns = Seq("actor_1:actors:name", "actor_2:actors:name"),
      outputDir = Some(out))
    SqliteCli.writeDb(f, Pipeline.run(spark, base))
    // second run against the SAME db: one known actor, one new
    val csv2 = tempCsv("test.csv",
      "film,actor_1,actor_2\nSeven,Brad Pitt,Nicolas Cage\n")
    SqliteCli.writeDb(f, Pipeline.run(spark, base.copy(paths = Seq(csv2))))

    assert(SqliteCli.query(f, "SELECT count(*) FROM [test];")
      === Seq(Seq(Some("4"))))
    val actors = SqliteCli.query(f, "SELECT id, name FROM [actors] ORDER BY id;")
      .map(r => (r(0).get, r(1).get))
    assert(actors === Seq("1" -> "Sean Connery", "2" -> "Nicolas Cage",
      "3" -> "Diane Kruger", "4" -> "Orlando Bloom", "5" -> "Brad Pitt"))
    // the appended fact row encodes the reused id (2) and the new id (5)
    assert(SqliteCli.query(f,
      "SELECT actor_1, actor_2 FROM [test] WHERE film = 'Seven';")
      === Seq(Seq(Some("5"), Some("2"))))
    // shadow FTS extended with exactly the new value at rowid 5
    assert(SqliteCli.query(f,
      "SELECT rowid FROM [actors_name_fts] WHERE actors_name_fts MATCH 'Pitt';")
      === Seq(Seq(Some("5"))))
  }

  private val MayorCsv =
    "county,precinct,office,district,party,candidate,votes\nYolo,100002,Mayor,,,Jane Doe,12\n"

  test("real .db: --replace-tables drops and recreates the fact table (K4)") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    val out = Files.createTempDirectory("graft-realdb-out").toString
    val f = dbFile()
    val base = cfg(Seq(tempCsv("test.csv", Fixtures.CSV))).copy(outputDir = Some(out))
    SqliteCli.writeDb(f, Pipeline.run(spark, base))
    SqliteCli.writeDb(f, Pipeline.run(spark, base.copy(
      paths = Seq(tempCsv("test.csv", MayorCsv)), replaceTables = true)))
    assert(SqliteCli.query(f, "SELECT rowid, office, candidate FROM [test];") ===
      Seq(Seq(Some("1"), Some("Mayor"), Some("Jane Doe"))))
  }

  test("real .db: --replace-tables with -c keeps the lookup table's ids and extends it") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    val out = Files.createTempDirectory("graft-realdb-out").toString
    val f = dbFile()
    val base = cfg(Seq(tempCsv("test.csv", Fixtures.CSV))).copy(
      extractColumns = Seq("office"), outputDir = Some(out))
    SqliteCli.writeDb(f, Pipeline.run(spark, base))
    // the reference drops only the loaded fact table (cli.py:248-249);
    // the lookup table and its shadow FTS stay (utils.py:151-182)
    SqliteCli.writeDb(f, Pipeline.run(spark, base.copy(
      paths = Seq(tempCsv("test.csv", MayorCsv)), replaceTables = true)))
    val offices = SqliteCli.query(f, "SELECT id, value FROM [office] ORDER BY id;")
      .map(r => (r(0).get, r(1).get))
    assert(offices === Seq("1" -> "President", "2" -> "Proposition 51",
      "3" -> "State Assembly", "4" -> "Mayor"))
    assert(SqliteCli.query(f, "SELECT office, candidate FROM [test];") ===
      Seq(Seq(Some("4"), Some("Jane Doe"))))
    assert(SqliteCli.query(f,
      "SELECT rowid FROM [office_value_fts] WHERE office_value_fts MATCH 'Mayor';")
      === Seq(Seq(Some("4"))))
  }

  test("real .db: FTS over EXTRACTED columns matches original strings through lookups") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    val csv = tempCsv("test.csv", Fixtures.CSV)
    val r = Pipeline.run(spark, cfg(Seq(csv)).copy(
      extractColumns = Seq("office", "party", "candidate"),
      ftsColumns = Seq("office", "party", "candidate")))
    val f = dbFile()
    SqliteCli.writeDb(f, r)
    // the fact table now stores integer ids; the FTS populate SQL
    // (byte-parity with utils.py:374-438) joined the lookup strings —
    // a MATCH on original text must resolve through real SQLite
    val hits = SqliteCli.query(f,
      """SELECT county,
        |  (SELECT value FROM candidate WHERE id = test.candidate)
        |FROM test
        |WHERE rowid IN (
        |  SELECT rowid FROM test_fts WHERE test_fts MATCH 'president gloria'
        |);""".stripMargin)
    assert(hits === Seq(Seq(Some("Yolo"), Some("Gloria Estela La Riva"))))
  }

  // ---- FTS RANKING cross-validation against real FTS5 --------------
  //
  // The reference delegates all ranking to SQLite (utils.py:374-438
  // creates the FTS tables; ranking is SQLite's bm25()). These goldens
  // prove the Spark-native ranking family reproduces the REAL engine,
  // not just its own DuckDB replay. The corpus is inserted as the
  // token-joined stream (tokens are [a-z0-9]+ joined by single spaces),
  // which makes FTS5's unicode61 tokenization identical to
  // Fts.tokens — isolating RANKING semantics from tokenization.

  private def ftsCorpusDb(): (String, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.loadSpread(spark, dir, "documents")
    val corpus = docs
      .select(col("doc_id").cast("long"),
        array_join(operators.Fts.tokens(Seq(col("text"))), " "))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val f = dbFile()
    val script = new StringBuilder("CREATE VIRTUAL TABLE d USING fts5(body);\nBEGIN;\n")
    corpus.foreach { case (id, body) =>
      script ++= s"INSERT INTO d(rowid, body) VALUES ($id, '${body.replace("'", "''")}');\n"
    }
    script ++= "COMMIT;\n"
    SqliteCli.query(f, script.toString)
    (f, docs)
  }

  test("real FTS5: bm25 ordering matches the fixed-point log2 scorer on multi-term and epsilon-idf queries") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (f, docs) = ftsCorpusDb()
    // spans: 3-term, 2-term, common-term (df >= N/2 -> FTS5's 1e-6
    // epsilon idf branch), single rare-ish term, mixed eps+positive
    val queries = Seq("spark vector hash", "spark hash", "the spark",
      "spark", "vector", "learning model data")
    for (q <- queries) {
      val nTerms = q.split(" ").distinct.length
      // bm25() returns the NEGATED score: ascending = best-first
      val real = SqliteCli.query(f,
        s"SELECT rowid FROM d WHERE d MATCH '$q' ORDER BY bm25(d), rowid LIMIT 20;")
        .map(_.head.get.toLong)
      val mine = operators.Fts.bm25Match(
          docs.withColumnRenamed("doc_id", "rowid"), Seq("text"), q, "rowid")
        .filter(col("terms_hit") === nTerms) // FTS5 MATCH = implicit AND
        .orderBy(col("score").desc, col("rowid"))
        .limit(20).select("rowid").as[Long].collect().toSeq
      assert(mine === real, s"bm25 ordering diverges from real FTS5 for '$q'")
    }
  }

  test("real FTS5: WEIGHTED bm25(d, w1, w2) ordering matches bm25MatchWeighted across weight profiles") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two-column corpus: first third of each doc's token stream -> title
    val raw = Tables.loadSpread(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id").cast("long"), operators.Fts.tokens(Seq(col("text"))))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
      .filter(_._2.length >= 3).sortBy(_._1)
    val rows = raw.map { case (id, toks) =>
      val cut = math.max(1, toks.length / 3)
      (id, toks.take(cut).mkString(" "), toks.drop(cut).mkString(" "))
    }
    val docs = rows.toSeq.toDF("rowid", "title", "body")
    val f = dbFile()
    val script = new StringBuilder("CREATE VIRTUAL TABLE d USING fts5(title, body);\nBEGIN;\n")
    rows.foreach { case (id, t, b) =>
      script ++= s"INSERT INTO d(rowid, title, body) VALUES ($id, '${t.replace("'", "''")}', '${b.replace("'", "''")}');\n"
    }
    script ++= "COMMIT;\n"
    SqliteCli.query(f, script.toString)
    // weight profiles incl. a zero weight (column matches, scores 0)
    for ((wt, wb) <- Seq((1L, 1L), (3L, 1L), (1L, 4L), (10L, 0L));
         q <- Seq("spark hash", "vector", "the spark")) {
      val nTerms = q.split(" ").distinct.length
      val real = SqliteCli.query(f,
        s"SELECT rowid FROM d WHERE d MATCH '$q' ORDER BY bm25(d, $wt.0, $wb.0), rowid LIMIT 20;")
        .map(_.head.get.toLong)
      val mine = operators.Fts.bm25MatchWeighted(
          docs, Seq("title" -> wt, "body" -> wb), q, "rowid")
        .filter(col("terms_hit") === nTerms)
        .orderBy(col("score").desc, col("rowid"))
        .limit(20).select("rowid").as[Long].collect().toSeq
      assert(mine === real, s"weighted bm25 ordering diverges for '$q' weights ($wt,$wb)")
    }
  }

  test("real FTS5: NEAR(a b, N) row sets equal the nearMinGap <= N predicate") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (f, docs) = ftsCorpusDb()
    for (n <- Seq(0, 3, 10)) {
      val real = SqliteCli.query(f,
        s"SELECT rowid FROM d WHERE d MATCH 'NEAR(spark hash, $n)' ORDER BY rowid;")
        .map(_.head.get.toLong)
      val mine = docs
        .select(col("doc_id").cast("long").as("doc_id"),
          operators.Fts.nearMinGap(Seq(col("text")), "spark", "hash").as("g"))
        .filter(col("g") <= n)
        .orderBy("doc_id").select("doc_id").as[Long].collect().toSeq
      assert(mine === real, s"NEAR($n) row set diverges from real FTS5")
    }
  }

  test("real FTS5: NEAR with phrases and default N, through the matchQuery grammar") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (f, docs) = ftsCorpusDb()
    // phrase arg, explicit N; phrase arg, default N (=10); token pair
    // spelled through the full query grammar
    for (q <- Seq("NEAR(\"the spark\" hash, 5)", "NEAR(\"the spark\" hash)",
        "NEAR(vector hash, 7)")) {
      // embedded double quotes are literal inside a single-quoted SQL
      // string — FTS5 sees the phrase quotes verbatim
      val real = SqliteCli.query(f,
        s"SELECT rowid FROM d WHERE d MATCH '$q' ORDER BY rowid;")
        .map(_.head.get.toLong)
      val mine = docs
        .filter(operators.Fts.matchQuery(Seq(col("text")), q))
        .select(col("doc_id").cast("long"))
        .orderBy("doc_id").as[Long].collect().toSeq
      assert(mine === real, s"grammar NEAR diverges from real FTS5 for <$q>")
    }
  }

  test("real FTS5: k-phrase NEAR, no-space comma N, prefix, and phrase-prefix row sets") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (f, docs) = ftsCorpusDb()
    val grammarQueries = Seq(
      "NEAR(spark vector hash, 8)",       // k=3 clump rule
      "NEAR(spark vector hash, 2)",       // k=3, tight window
      "NEAR(\"the spark\" vector hash)",  // k=3 with a phrase arg, default N
      "NEAR(spark hash,4)",               // no-space comma still reads N=4
      "NEAR(spark, 3)",                   // single phrase: vacuous proximity
      "vec*",                             // bare prefix
      "spar* AND hash",                   // prefix inside boolean grammar
      "\"the spar\"*",                    // phrase-prefix (star outside quotes)
      "NEAR(vec* hash, 6)",               // prefix inside NEAR
      "the+spark",                        // '+' = phrase concatenation
      "the + spark",                      // ... whitespace-tolerant
      "\"the\"+spark",                    // quoted unit in a '+' chain
      "the+spar*",                        // chain ending in a prefix
      "^the+spark",                       // anchored chain
      "NEAR(the+spark hash, 6)"           // '+' chain inside NEAR
    )
    for (q <- grammarQueries) {
      val real = SqliteCli.query(f,
        s"SELECT rowid FROM d WHERE d MATCH '$q' ORDER BY rowid;")
        .map(_.head.get.toLong)
      val mine = docs
        .filter(operators.Fts.matchQuery(Seq(col("text")), q))
        .select(col("doc_id").cast("long"))
        .orderBy("doc_id").as[Long].collect().toSeq
      assert(mine === real, s"grammar diverges from real FTS5 for <$q>")
    }
    // star INSIDE the quotes is inert (tokenizer strips it): the phrase
    // "the spar*" matches nothing the plain phrase "the spar" wouldn't
    val inert = SqliteCli.query(f,
      "SELECT rowid FROM d WHERE d MATCH '\"the spar*\"' ORDER BY rowid;")
      .map(_.head.get.toLong)
    val mineInert = docs.filter(operators.Fts.matchQuery(Seq(col("text")), "\"the spar*\""))
      .select(col("doc_id").cast("long")).orderBy("doc_id").as[Long].collect().toSeq
    assert(mineInert === inert, "in-quote star should be inert, as real FTS5")
    // embedded punctuation in a bare query word is a syntax error in
    // real FTS5 ("quick-brown" reads as a column filter, "3.5" as a
    // syntax error) — reproduced loudly, never a silent implicit AND
    for (bad <- Seq("spark-hash", "3.5", "a..b", "NEAR(a-b c, 2)", "NEAR()")) {
      intercept[IllegalArgumentException] {
        operators.Fts.matchQuery(Seq(col("text")), bad)
      }
    }
  }

  test("real FTS5: phrases and NEAR are column-local; in-quote stars separate tokens") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (1L, "hash tables", "spark stream"),
      (2L, "x tables spark y", "z"),
      (3L, "vec tor", "q"),
      (4L, "vector", "q"),
      (5L, "one two", "three four"))
    val docs = rows.toDF("id", "a", "b")
    val f = dbFile()
    val script = new StringBuilder("CREATE VIRTUAL TABLE d USING fts5(a, b);\nBEGIN;\n")
    rows.foreach { case (id, a, b) =>
      script ++= s"INSERT INTO d(rowid, a, b) VALUES ($id, '$a', '$b');\n"
    }
    script ++= "COMMIT;\n"
    SqliteCli.query(f, script.toString)
    val named = Seq("a" -> col("a"), "b" -> col("b"))
    val qs = Seq(
      "\"tables spark\"",       // phrase never spans a column boundary
      "NEAR(tables spark, 1)",  // ...nor does NEAR proximity
      "NEAR(two three, 1)",
      "\"vec*tor\"",            // in-quote star = token separator
      "\"one tw \"*",           // postfix star lands on the last TOKEN
      "NEAR(one tw* , 2)",      // prefix flag inside NEAR args
      "tables + spark")         // '+' adjacency is column-local too
    for (q <- qs) {
      val real = SqliteCli.query(f,
        s"SELECT rowid FROM d WHERE d MATCH '${q.replace("'", "''")}' ORDER BY rowid;")
        .map(_.head.get.toLong)
      val mine = docs.filter(operators.Fts.matchQueryNamed(named, q))
        .select("id").orderBy("id").as[Long].collect().toSeq
      assert(mine === real, s"column-locality diverges from real FTS5 for <$q>")
    }
  }

  test("real FTS5: column-filter syntax restricts matching to one column") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (1L, "spark engine", "hash join plan"),
      (2L, "hash tables", "spark stream window"),
      (3L, "other title", "spark hash vector"),
      (4L, "spark spark hash", "nothing here"))
    val docs = rows.toDF("id", "title", "body")
    val f = dbFile()
    val script = new StringBuilder("CREATE VIRTUAL TABLE d USING fts5(title, body);\nBEGIN;\n")
    rows.foreach { case (id, t, b) =>
      script ++= s"INSERT INTO d(rowid, title, body) VALUES ($id, '$t', '$b');\n"
    }
    script ++= "COMMIT;\n"
    SqliteCli.query(f, script.toString)
    val named = Seq("title" -> col("title"), "body" -> col("body"))
    val colQueries = Seq(
      "title:spark",                       // plain column filter
      "title : spark",                     // whitespace around ':' (real FTS5 allows)
      "body:\"spark stream\"",             // phrase operand
      "title:sp* OR body:vector",          // prefix operand inside boolean grammar
      "body:NEAR(spark window, 2)",        // NEAR operand
      "title:spark body:hash",             // implicit AND of two filters
      "TITLE:spark",                       // case-insensitive column name
      "{title body}:spark",                // column set
      "{title}:hash",                      // singleton set
      "-title:spark",                      // negated column (all EXCEPT title)
      "-{title}:hash",                     // negated set
      "-body:\"spark spark\"",             // negated set, phrase operand
      "^spark",                            // initial-token: SOME column starts spark
      "^hash",                             // per-column anchor (body counts)
      "title:^spark",                      // anchored inside a column filter
      "^\"hash tables\"",                  // anchored phrase
      "^ha*",                              // anchored prefix
      "-title:^spark",                     // anchored in a negated filter
      "-{title body}:spark",               // negation emptying the context: match-nothing, NOT an error
      // ---- filtered sub-queries: `col:(expr)` scopes the whole group
      "title:(spark OR hash)",
      "title:(spark hash)",                // juxtaposition inside the group
      "{title body}:(spark AND vector)",
      "-title:(spark OR hash)",
      "title:(spark NOT hash)",
      "title : (spark OR hash)",           // whitespace around ':'
      "title:((spark))",
      "title:(^spark engine)",             // anchor + juxta inside
      "title:(NEAR(spark engine, 2))",
      "title:(spark*)",
      "title:(spark+engine)",
      "title:(\"\" OR spark)",             // empty phrase inside the group
      "title:(\"\")",                      // whole group match-nothing
      // nested filters INTERSECT the context
      "title:(body:spark)",                // {title} ∩ {body} = ∅: empty, no error
      "{title body}:(title:spark)",
      "title:(body:spark OR spark)",
      "title:(-body:spark)",               // inner negation removes from ctx
      "title:(-title:spark)",              // ...to empty: match-nothing
      "-title:(body:spark)",
      "{title}:(body:\"\")",
      "body:(title:(spark))")              // doubly nested
    for (q <- colQueries) {
      val real = SqliteCli.query(f,
        s"SELECT rowid FROM d WHERE d MATCH '$q' ORDER BY rowid;")
        .map(_.head.get.toLong)
      val mine = docs.filter(operators.Fts.matchQueryNamed(named, q))
        .select("id").orderBy("id").as[Long].collect().toSeq
      assert(mine === real, s"column filter diverges from real FTS5 for <$q>")
    }
    // unknown column is a loud error, as real FTS5
    intercept[IllegalArgumentException] {
      operators.Fts.matchQueryNamed(named, "nosuch:spark")
    }
    // ... also under negation and inside sets
    intercept[IllegalArgumentException] {
      operators.Fts.matchQueryNamed(named, "-nosuch:spark")
    }
    intercept[IllegalArgumentException] {
      operators.Fts.matchQueryNamed(named, "{title nosuch}:spark")
    }
    // '^' inside NEAR is a syntax error in real FTS5 — reproduced loudly
    intercept[IllegalArgumentException] {
      operators.Fts.matchQueryNamed(named, "NEAR(^spark engine, 3)")
    }
    // error parity on the filtered-group edges (each probed against
    // sqlite3 3.51): empty group, juxtaposed group, postfix star on a
    // group, column filter inside NEAR
    for (bad <- Seq("title:()", "title:(spark OR)", "spark title:(hash)",
        "title:(hash) spark", "title:(spark)*", "NEAR(title:(spark) engine, 2)")) {
      intercept[Exception] { operators.Fts.matchQueryNamed(named, bad) }
    }
    // the unnamed entry point rejects column filters loudly
    intercept[IllegalArgumentException] {
      operators.Fts.matchQuery(Seq(col("title")), "title:spark")
    }
  }

  test("property: 160 seeded random grammar queries match real FTS5 row sets") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (f, docs) = ftsCorpusDb()
    // corpus-derived building blocks: real tokens (hits) + absent ones
    // (misses), and real adjacent windows so phrases/NEAR are non-trivial
    val tokenArrays = docs
      .select(operators.Fts.tokens(Seq(col("text"))))
      .collect().map(_.getSeq[String](0)).filter(_.nonEmpty)
    val rnd = new scala.util.Random(20260814L)
    def anyDoc() = tokenArrays(rnd.nextInt(tokenArrays.length))
    def term(): String =
      if (rnd.nextInt(5) == 0) "zzzq" + rnd.nextInt(3) // absent
      else { val d = anyDoc(); d(rnd.nextInt(d.length)) }
    def window(len: Int): Seq[String] = {
      val d = anyDoc()
      if (d.length <= len) d.toSeq
      else { val s = rnd.nextInt(d.length - len); d.slice(s, s + len).toSeq }
    }
    def phraseAtom(): String = "\"" + window(2 + rnd.nextInt(2)).mkString(" ") + "\""
    def prefixAtom(): String = {
      val t = term()
      t.substring(0, math.min(t.length, 1 + rnd.nextInt(3))) + "*"
    }
    def nearArg(): String =
      if (rnd.nextInt(4) == 0) "\"" + window(2).mkString(" ") + "\"" else term()
    def atom(): String = rnd.nextInt(10) match {
      case 0 => phraseAtom()
      case 1 => phraseAtom() + "*"                       // phrase-prefix
      case 2 => prefixAtom()
      case 3 => "^" + term()
      case 4 =>                                          // NEAR, 2-3 args
        val args = Seq.fill(2 + rnd.nextInt(2))(nearArg()).mkString(" ")
        if (rnd.nextBoolean()) s"NEAR($args, ${rnd.nextInt(9)})" else s"NEAR($args)"
      case 5 => term() + "+" + term()                    // '+' chain
      case 6 => "body:" + (if (rnd.nextBoolean()) term() else phraseAtom())
      case _ => term()
    }
    // parenthesized groups always join through explicit operators — the
    // juxtaposition-next-to-parens error path is pinned separately
    def expr(depth: Int): String =
      if (depth == 0) atom()
      else rnd.nextInt(6) match {
        case 0 => s"(${expr(depth - 1)}) OR (${expr(depth - 1)})"
        case 1 => s"(${expr(depth - 1)}) AND (${expr(depth - 1)})"
        case 2 => s"(${expr(depth - 1)}) NOT (${expr(depth - 1)})"
        case 3 => s"${atom()} ${atom()}"                 // juxtaposition
        case 4 => s"${atom()} OR ${atom()} NOT ${atom()}"
        case _ => atom()
      }
    val queries = Seq.fill(160)(expr(1 + rnd.nextInt(2)))
    val named = Seq("body" -> col("text"))
    // one sqlite3 invocation for all queries; one Spark pass per batch
    // of 32 predicates (bounds the generated code per stage)
    val script = queries.zipWithIndex.map { case (q, i) =>
      s"SELECT 'q$i', rowid FROM d WHERE d MATCH '${q.replace("'", "''")}' ORDER BY rowid;"
    }.mkString("\n")
    val real: Map[Int, Set[Long]] = SqliteCli.query(f, script)
      .collect { case Seq(Some(tag), Some(rid)) => (tag.drop(1).toInt, rid.toLong) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      .withDefaultValue(Set.empty)
    queries.zipWithIndex.grouped(32).foreach { batch =>
      val preds = batch.map { case (q, i) =>
        operators.Fts.matchQueryNamed(named, q).as(s"q$i")
      }
      val rows = docs.select(col("doc_id").cast("long").as("id") +: preds: _*).collect()
      batch.foreach { case (q, i) =>
        val mine = rows.filter { r =>
          val idx = r.fieldIndex(s"q$i"); !r.isNullAt(idx) && r.getBoolean(idx)
        }.map(_.getLong(0)).toSet
        assert(mine === real(i), s"row set diverges from real FTS5 for <$q>")
      }
    }
  }

  test("property: 200 random MULTI-COLUMN grammar queries — verdict parity with real FTS5") {
    // The single-column fuzz above cannot stress column filters, sets,
    // negation, or filtered sub-queries (`title:(a OR b)`) — this one
    // runs the same methodology over a two-column corpus with a
    // generator that emits every colspec shape, including nested
    // filters whose contexts intersect to empty. Verdict parity (not
    // just row parity): juxtaposed filtered groups and similar combos
    // are syntax errors in real FTS5, and must be loud here too.
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // split each doc's token stream: first third -> title, rest -> body
    // (overlapping vocabulary, so cross-column hits are non-trivial)
    val raw = Tables.loadSpread(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id").cast("long"), operators.Fts.tokens(Seq(col("text"))))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
      .filter(_._2.length >= 3).sortBy(_._1)
    val rows = raw.map { case (id, toks) =>
      val cut = math.max(1, toks.length / 3)
      (id, toks.take(cut).mkString(" "), toks.drop(cut).mkString(" "))
    }
    val docs = rows.toSeq.toDF("id", "title", "body")
    val f = dbFile()
    val script = new StringBuilder("CREATE VIRTUAL TABLE d USING fts5(title, body);\nBEGIN;\n")
    rows.foreach { case (id, t, b) =>
      script ++= s"INSERT INTO d(rowid, title, body) VALUES ($id, '${t.replace("'", "''")}', '${b.replace("'", "''")}');\n"
    }
    script ++= "COMMIT;\n"
    SqliteCli.query(f, script.toString)
    val named = Seq("title" -> col("title"), "body" -> col("body"))
    val vocab = rows.flatMap { case (_, t, b) => t.split(" ") ++ b.split(" ") }.filter(_.nonEmpty)
    val rnd = new scala.util.Random(sys.env.get("FTS_FUZZ_SEED").map(_.toLong).getOrElse(20260815L))
    def term(): String =
      if (rnd.nextInt(6) == 0) "zzzq" + rnd.nextInt(3) else vocab(rnd.nextInt(vocab.length))
    def window(len: Int): Seq[String] = {
      val (_, t, b) = rows(rnd.nextInt(rows.length))
      val d = (if (rnd.nextBoolean()) t else b).split(" ").filter(_.nonEmpty)
      if (d.length <= len) d.toSeq
      else { val s = rnd.nextInt(d.length - len); d.slice(s, s + len).toSeq }
    }
    def phraseAtom(): String = "\"" + window(2 + rnd.nextInt(2)).mkString(" ") + "\""
    def prefixAtom(): String = {
      val t = term(); t.substring(0, math.min(t.length, 1 + rnd.nextInt(3))) + "*"
    }
    def near(): String = {
      val args = Seq.fill(2 + rnd.nextInt(2))(
        if (rnd.nextInt(4) == 0) "\"" + window(2).mkString(" ") + "\"" else term()).mkString(" ")
      if (rnd.nextBoolean()) s"NEAR($args, ${rnd.nextInt(9)})" else s"NEAR($args)"
    }
    def colspec(): String = rnd.nextInt(6) match {
      case 0 => "-title"
      case 1 => "-body"
      case 2 => "{title body}"
      case 3 => "-{" + (if (rnd.nextBoolean()) "title" else "body") + "}"
      case 4 => "title"
      case _ => "body"
    }
    def colOperand(): String = rnd.nextInt(6) match {
      case 0 => phraseAtom()
      case 1 => prefixAtom()
      case 2 => near()
      case 3 => "^" + term()
      case 4 => "\"\""
      case _ => term()
    }
    def atom(depth: Int): String = rnd.nextInt(12) match {
      case 0 => phraseAtom()
      case 1 => prefixAtom()
      case 2 => "^" + term()
      case 3 => near()
      case 4 | 5 | 6 => colspec() + ":" + colOperand()
      case 7 | 8 if depth > 0 => colspec() + ":(" + expr(depth - 1) + ")"
      case 9 if depth > 0 => // nested filter: contexts intersect
        colspec() + ":(" + colspec() + ":" + colOperand() + ")"
      case _ => term()
    }
    def expr(depth: Int): String =
      if (depth == 0) atom(0)
      else rnd.nextInt(7) match {
        case 0 => s"(${expr(depth - 1)}) OR (${expr(depth - 1)})"
        case 1 => s"(${expr(depth - 1)}) AND (${expr(depth - 1)})"
        case 2 => s"(${expr(depth - 1)}) NOT (${expr(depth - 1)})"
        case 3 => s"${atom(depth - 1)} ${atom(depth - 1)}" // juxtaposition (may error)
        case 4 => s"${atom(depth - 1)} OR ${atom(depth - 1)} NOT ${atom(depth - 1)}"
        case 5 => s"${atom(depth - 1)} AND ${atom(depth - 1)}"
        case _ => atom(depth - 1)
      }
    // 200 random queries + deterministic error shapes (a seed may
    // randomly produce few syntax errors; the contract's error side
    // must be exercised every run)
    val queries = Seq.fill(200)(expr(1 + rnd.nextInt(2))) ++ Seq(
      s"${term()} title:(${term()})",       // juxtaposed filtered group
      s"title:(${term()}) ${term()}",
      "title:()",
      s"title:(${term()} OR)",
      s"title:(${term()})*",
      s"NEAR(title:(${term()}) ${term()}, 2)",
      s"nosuch:(${term()})")                // unknown column before group
    case class Verdict(error: Boolean, rows: Set[Long])
    def realVerdict(q: String): Verdict =
      try Verdict(error = false, SqliteCli.query(f,
        s"SELECT rowid FROM d WHERE d MATCH '${q.replace("'", "''")}' ORDER BY rowid;")
        .map(_.head.get.toLong).toSet)
      catch { case _: Exception => Verdict(error = true, Set.empty) }
    val mine: Seq[(String, Either[Throwable, org.apache.spark.sql.Column])] = queries.map { q =>
      (q, try Right(operators.Fts.matchQueryNamed(named, q))
        catch { case e: Throwable => Left(e) })
    }
    val evaluated = scala.collection.mutable.Map.empty[String, Set[Long]]
    mine.collect { case (q, Right(p)) => (q, p) }.zipWithIndex
      .grouped(32).foreach { batch =>
        val cols0 = batch.map { case ((_, p), i) => p.as(s"q$i") }
        val res = docs.select(col("id") +: cols0: _*).collect()
        batch.foreach { case ((q, _), i) =>
          evaluated(q) = res.filter { r =>
            val idx = r.fieldIndex(s"q$i"); !r.isNullAt(idx) && r.getBoolean(idx)
          }.map(_.getLong(0)).toSet
        }
      }
    var nErr = 0
    var nHit = 0
    mine.foreach { case (q, parsed) =>
      val real = realVerdict(q)
      parsed match {
        case Left(e) =>
          assert(real.error,
            s"engine rejected <$q> (${e.getMessage}) but real FTS5 accepts it with rows ${real.rows}")
          nErr += 1
        case Right(_) =>
          assert(!real.error, s"engine accepted <$q> but real FTS5 raises a syntax error")
          assert(evaluated(q) === real.rows, s"row set diverges from real FTS5 for <$q>")
          if (real.rows.nonEmpty) nHit += 1
      }
    }
    // the generator must exercise both verdicts and produce real hits
    assert(nErr >= 7 && nErr < queries.length / 2, s"generator degenerate: $nErr errors")
    assert(nHit > 50, s"generator degenerate: only $nHit non-empty row sets")
  }

  test("property: error parity — random lexeme soups error or match exactly as FTS5") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (f, docs) = ftsCorpusDb()
    val tokenArrays = docs
      .select(operators.Fts.tokens(Seq(col("text"))))
      .collect().map(_.getSeq[String](0)).filter(_.nonEmpty)
    // seed overridable for local sweeps (FTS_FUZZ_SEED=k sbt test);
    // the checked-in default keeps CI deterministic
    val rnd = new scala.util.Random(sys.env.get("FTS_FUZZ_SEED").map(_.toLong).getOrElse(8146082L))
    def term(): String = {
      val d = tokenArrays(rnd.nextInt(tokenArrays.length)); d(rnd.nextInt(d.length))
    }
    // the soup alphabet: valid atoms, operators, stray punctuation —
    // sequences are mostly malformed; the contract is VERDICT parity
    // (FTS5 error <=> our loud error; FTS5 row set = our row set)
    def piece(): String = rnd.nextInt(16) match {
      case 0 => "AND"
      case 1 => "OR"
      case 2 => "NOT"
      case 3 => "NEAR"
      case 4 => "("
      case 5 => ")"
      case 6 => "\"" + term() + " " + term() + "\""
      case 7 => "\"\""
      case 8 => "*"
      case 9 => "^" + term()
      case 10 => term() + "*"
      case 11 => "+"
      case 12 => ","
      case 13 => "body:" + term()
      case 14 => rnd.nextInt(20).toString
      case _ => term()
    }
    val soups = Seq.fill(250)(Seq.fill(1 + rnd.nextInt(5))(piece()).mkString(" "))
    val named = Seq("body" -> col("text"))
    // per-soup verdicts
    case class Verdict(error: Boolean, rows: Set[Long])
    def realVerdict(q: String): Verdict =
      try Verdict(error = false, SqliteCli.query(f,
        s"SELECT rowid FROM d WHERE d MATCH '${q.replace("'", "''")}' ORDER BY rowid;")
        .map(_.head.get.toLong).toSet)
      catch { case _: Exception => Verdict(error = true, Set.empty) }
    val mine: Seq[(String, Either[Throwable, org.apache.spark.sql.Column])] = soups.map { q =>
      (q, try Right(operators.Fts.matchQueryNamed(named, q))
        catch { case e: Throwable => Left(e) })
    }
    // evaluate the parse-successes in batches of one Spark pass each
    val evaluated = scala.collection.mutable.Map.empty[String, Set[Long]]
    mine.collect { case (q, Right(p)) => (q, p) }.zipWithIndex
      .grouped(32).foreach { batch =>
        val cols0 = batch.map { case ((_, p), i) => p.as(s"q$i") }
        val rows = docs.select(col("doc_id").cast("long").as("id") +: cols0: _*).collect()
        batch.foreach { case ((q, _), i) =>
          evaluated(q) = rows.filter { r =>
            val idx = r.fieldIndex(s"q$i"); !r.isNullAt(idx) && r.getBoolean(idx)
          }.map(_.getLong(0)).toSet
        }
      }
    var errParity = 0
    mine.foreach { case (q, parsed) =>
      val real = realVerdict(q)
      parsed match {
        case Left(e) =>
          assert(real.error,
            s"engine rejected <$q> (${e.getMessage}) but real FTS5 accepts it with rows ${real.rows}")
          errParity += 1
        case Right(_) =>
          assert(!real.error, s"engine accepted <$q> but real FTS5 raises a syntax error")
          assert(evaluated(q) === real.rows, s"row set diverges from real FTS5 for <$q>")
      }
    }
    // the soup generator must actually exercise BOTH sides of the contract
    assert(errParity > 50 && errParity < soups.length,
      s"generator degenerate: $errParity/${soups.length} error-verdicts")
  }

  test("real FTS5: snippet() agrees on short docs, where the window choice degenerates") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Docs at or under the 8-token window: FTS5's snippet heuristic has
    // exactly one candidate (the whole document) so its output must
    // equal [[Fts.snippet]]'s whole-doc fallback byte for byte. Longer
    // docs may diverge — FTS5's selection heuristic is more elaborate
    // than the pinned best-window contract (documented at Fts.snippet).
    val docs = Seq(
      (1L, "spark engine with vector index"),
      (2L, "a spark spark appears twice here"),
      (3L, "vector store only"),
      (4L, "spark at the very end vector")
    ).toDF("doc_id", "text")
    val f = dbFile()
    val script = new StringBuilder("CREATE VIRTUAL TABLE d USING fts5(body);\nBEGIN;\n")
    docs.collect().sortBy(_.getLong(0)).foreach { r =>
      script ++= s"INSERT INTO d(rowid, body) VALUES (${r.getLong(0)}, '${r.getString(1)}');\n"
    }
    script ++= "COMMIT;\n"
    SqliteCli.query(f, script.toString)
    for (q <- Seq("spark", "vector", "spark vector")) {
      val real = SqliteCli.query(f,
        s"SELECT rowid, snippet(d, 0, '<b>', '</b>', '...', 8) FROM d WHERE d MATCH '$q' ORDER BY rowid;")
        .map(r => (r(0).get.toLong, r(1).get)).toMap
      val mine = docs
        .filter(operators.Fts.matches(Seq(col("text")), q))
        .select(col("doc_id"),
          operators.Fts.snippet(Seq(col("text")), q, window = 8))
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(mine === real, s"short-doc snippet diverges from real FTS5 for '$q'")
    }
  }

  test("real FTS5: highlight() output is byte-identical on the token stream") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import org.apache.spark.sql.functions._
    val (f, docs) = ftsCorpusDb()
    for (q <- Seq("vector", "spark vector")) {
      val real = SqliteCli.query(f,
        s"SELECT rowid, highlight(d, 0, '<b>', '</b>') FROM d WHERE d MATCH '$q' ORDER BY rowid;")
        .map(r => (r(0).get.toLong, r(1).get)).toMap
      val mine = docs
        .filter(operators.Fts.matches(Seq(col("text")), q))
        .select(col("doc_id").cast("long"),
          operators.Fts.highlight(Seq(col("text")), q))
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(mine === real, s"highlight diverges from real FTS5 for '$q'")
    }
  }

  test("real .db: FTS4-fallback DDL works end-to-end in real SQLite (utils.py:362-383)") {
    // A downstream SQLite without FTS5 gets FTS4 DDL from the reference
    // — the emitted statements differ ONLY in the USING token. Prove
    // the fallback DDL is real: build the FTS4 shadow with our
    // generator against the actual binary and MATCH through it.
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    val f = dbFile()
    val ddl4 = graft.sinks.SqliteDdl.ftsCreateSql("t", Seq("body"), "FTS4")
    assert(ddl4 === """CREATE VIRTUAL TABLE "t_fts" USING FTS4 ("body", content="t");""")
    assert(graft.sinks.SqliteDdl.ftsCreateSql("t", Seq("body"), "FTS5") ===
      ddl4.replace("FTS4", "FTS5"), "versions must differ only in the USING token")
    SqliteCli.query(f,
      s"""CREATE TABLE t (body TEXT);
         |INSERT INTO t (rowid, body) VALUES (1, 'president gloria'), (2, 'other text');
         |$ddl4
         |INSERT INTO "t_fts" (rowid, "body") SELECT rowid, "body" FROM [t];""".stripMargin)
    val hits = SqliteCli.query(f,
      "SELECT rowid FROM t WHERE rowid IN (SELECT rowid FROM t_fts WHERE t_fts MATCH 'gloria');")
    assert(hits === Seq(Seq(Some("1"))))
  }

  test("real FTS5: stemmed MATCH against a tokenize='porter' table — row-set parity") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // raw corpus + planted inflection families so stems actually unify
    // surface forms across documents
    val docs = Tables.loadSpread(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("text", concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" running quickly"))
          .when(col("doc_id") % 3 === 1, lit(" she runs connections"))
          .otherwise(lit(" connected cables"))))
      .select(col("doc_id").cast("long"), col("text"))
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val f = dbFile()
    val script = new StringBuilder(
      "CREATE VIRTUAL TABLE d USING fts5(body, tokenize='porter');\nBEGIN;\n")
    rows.foreach { case (id, body) =>
      script ++= s"INSERT INTO d(rowid, body) VALUES ($id, '${body.replace("'", "''")}');\n"
    }
    script ++= "COMMIT;\n"
    SqliteCli.query(f, script.toString)
    // each query names a DIFFERENT surface form than (some) documents
    for (q <- Seq("run", "running", "connection", "connects", "quickly runs",
        "spark runs")) {
      val real = SqliteCli.query(f,
        s"SELECT rowid FROM d WHERE d MATCH '$q' ORDER BY rowid;")
        .map(_.head.get.toLong).toSet
      val mine = docs
        .filter(operators.Fts.matchesStemmed(Seq(col("text")), q))
        .select("doc_id").as[Long].collect().toSet
      assert(mine === real, s"stemmed MATCH diverges from real FTS5 porter for <$q>")
      assert(real.nonEmpty, s"fixture degenerate: '$q' matched nothing")
    }
  }

  // ---- non-ASCII verdict parity -------------------------------------
  //
  // Every corpus above was either raw ASCII or the token-joined stream;
  // these two run RAW multilingual text — accents, combining marks,
  // Cyrillic, CJK — through both engines, exercising the unicode61
  // tokenizer (graft.functions.Unicode61) inside real MATCH evaluation.

  /** documents.text with a deterministic multilingual suffix planted on
    * each row (raw, NOT pre-tokenized — round 11 ducked this), inserted
    * verbatim into a real FTS5 table.
    */
  private def multilingualCorpusDb(): (String, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    val docs = Tables.loadSpread(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("text", concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(" Привет мир — café au lait"))
          .when(col("doc_id") % 4 === 1, lit(" Müller naïve 你好世界"))
          .when(col("doc_id") % 4 === 2, lit(" crème brûlée éf Ж"))
          .otherwise(lit(" plain ascii tail"))))
      .select(col("doc_id").cast("long"), col("text"), col("lang"))
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val f = dbFile()
    val script = new StringBuilder("CREATE VIRTUAL TABLE d USING fts5(body);\nBEGIN;\n")
    rows.foreach { case (id, body) =>
      script ++= s"INSERT INTO d(rowid, body) VALUES ($id, '${body.replace("'", "''")}');\n"
    }
    script ++= "COMMIT;\n"
    SqliteCli.query(f, script.toString)
    (f, docs)
  }

  test("real FTS5: non-ASCII MATCH queries over RAW multilingual text — row-set parity") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val (f, docs) = multilingualCorpusDb()
    // each shape the grammar supports, with non-ASCII operands: bareword
    // (accented both sides, fold on one side only), phrase, prefix,
    // anchor, NEAR, boolean mix with corpus ASCII terms
    val queries = Seq(
      "привет",                    // lowercase query vs planted 'Привет'
      "ПРИВЕТ",                    // fold on the query side
      "cafe",                      // unaccented query hits planted 'café'
      "café",                      // accented query folds to the same term
      "müller OR muller",
      "你好世界",                   // CJK: one token, kept verbatim
      "\"привет мир\"",            // non-ASCII phrase adjacency
      "\"crème brûlée\"",
      "при*",                      // prefix over folded Cyrillic
      "caf* AND lait",
      "NEAR(привет café, 6)",
      "мир NOT 你好世界",
      "(müller OR crème) NOT spark",
      "éf",                        // combining-mark text: 'éf' ≡ 'ef'
      "ef")                        // and its folded spelling
    val script = queries.zipWithIndex.map { case (q, i) =>
      s"SELECT 'q$i', rowid FROM d WHERE d MATCH '${q.replace("'", "''")}' ORDER BY rowid;"
    }.mkString("\n")
    val real: Map[Int, Set[Long]] = SqliteCli.query(f, script)
      .collect { case Seq(Some(tag), Some(rid)) => (tag.drop(1).toInt, rid.toLong) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      .withDefaultValue(Set.empty)
    queries.zipWithIndex.foreach { case (q, i) =>
      val mine = docs
        .filter(operators.Fts.matchQuery(Seq(col("text")), q))
        .select(col("doc_id")).as[Long].collect().toSet
      assert(mine === real(i), s"row set diverges from real FTS5 for <$q>")
      assert(real.values.exists(_.nonEmpty), "corpus degenerate: no query hit anything")
    }
    // the planted suffixes must make non-ASCII queries actually selective
    assert(real(0).nonEmpty && real(5).nonEmpty && real(0) != real(5))
  }

  test("real FTS5: bm25 ordering over RAW multilingual text with non-ASCII query terms") {
    // ranking and unicode61 COMPOSED: the corpus is raw multilingual
    // text (not the token-joined ASCII stream ftsCorpusDb isolates
    // ranking with), and the queries carry accented/Cyrillic terms that
    // must fold identically on both sides before tf/df/dl even exist.
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (f, docs) = multilingualCorpusDb()
    for (q <- Seq("привет café", "мир", "müller 你好世界", "crème brûlée")) {
      val nTerms = graft.functions.Unicode61.tokenize(q).distinct.length
      val real = SqliteCli.query(f,
        s"SELECT rowid FROM d WHERE d MATCH '$q' ORDER BY bm25(d), rowid LIMIT 20;")
        .map(_.head.get.toLong)
      val mine = operators.Fts.bm25Match(
          docs.withColumnRenamed("doc_id", "rowid"), Seq("text"), q, "rowid")
        .filter(col("terms_hit") === nTerms)
        .orderBy(col("score").desc, col("rowid"))
        .limit(20).select("rowid").as[Long].collect().toSeq
      assert(mine === real, s"multilingual bm25 ordering diverges for '$q'")
      assert(real.nonEmpty, s"corpus degenerate: '$q' matched nothing")
    }
  }

  test("real FTS5: highlight() on RAW punctuated multilingual text — byte parity") {
    // the ORIGINAL text comes back with only the markers inserted:
    // case, diacritics, punctuation, irregular spacing all preserved.
    // Token-folded matches highlight their raw spans ('CAFÉ,' for the
    // query term cafe).
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (1L, "Drinking CAFÉ, obviously — café au lait!"),
      (2L, "Привет, мир... привет?"),
      (3L, "no hits here; just (parentheses) & symbols #42"),
      (4L, "mixed:café/ПРИВЕТ end"),
      (5L, "  leading space, trailing  "),
      // phrase-hit surfaces (r18): separators INSIDE a phrase hit stay
      // inside the markers; overlapping phrase hits coalesce
      (6L, "Visit New-York City; new york again!"),
      (7L, "spark Window FUNCTION end"),
      (8L, "a b c d"))
    val f = dbFile()
    val script = new StringBuilder("CREATE VIRTUAL TABLE d USING fts5(body);\nBEGIN;\n")
    rows.foreach { case (id, t) =>
      script ++= s"INSERT INTO d(rowid, body) VALUES ($id, '${t.replace("'", "''")}');\n"
    }
    script ++= "COMMIT;\n"
    SqliteCli.query(f, script.toString)
    import spark.implicits._
    val docs = rows.toDF("rowid", "body")
    for (q <- Seq("café", "привет", "cafe OR привет", "symbols",
        // multi-token phrases (r18): whole hits wrap, raw separators
        // included ('New-York'); overlapping hits coalesce ('spark
        // window' + 'window function'); adjacent hits stay separate
        // ('a b' + 'c d'); prefix pieces match per piece
        "\"new york\"", "\"new york\" OR city",
        "\"spark window\" OR \"window function\"",
        "\"a b\" OR \"c d\"", "ne* + york", "visit + new*")) {
      val real = SqliteCli.query(f,
        s"SELECT rowid, highlight(d, 0, '<b>', '</b>') FROM d WHERE d MATCH '${q.replace("'", "''")}' ORDER BY rowid;")
        .map(r => (r(0).get.toLong, r(1).get)).toMap
      val mine = docs
        .filter(operators.Fts.matchQuery(Seq(col("body")), q))
        .select(col("rowid"),
          operators.Fts.highlightRaw(col("body"), q))
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(mine === real, s"raw highlight diverges from real FTS5 for '$q'")
      assert(real.nonEmpty, s"fixture degenerate: '$q' matched nothing")
    }
  }

  test("property: highlight() byte parity on 80 random phrase-heavy grammar queries (raw + token-stream)") {
    // The r18 phrase-hit surface under fuzz: multi-token quoted
    // phrases, '+'-chains, prefix pieces, overlapping-window ORs (the
    // coalesce rule), juxtaposition/AND/OR — byte-compared against the
    // binary's highlight() on BOTH renderers (HighlightRaw on raw
    // text; Fts.highlight on text that IS its own token stream).
    // NEAR and ^anchor atoms included since r18b: instance narrowing
    // (valid-clump participants only, position-0 only) is implemented
    // and must survive the fuzz, not just the crafted decoy docs.
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val (f, docs) = multilingualCorpusDb()
    val tokenArrays = docs.select(col("doc_id"),
        operators.Fts.tokens(Seq(col("text"))))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
      .filter(_._2.length >= 4)
    val rnd = new scala.util.Random(20260816L)
    def anyDoc(): Seq[String] = tokenArrays(rnd.nextInt(tokenArrays.length))._2
    def term(): String = { val d = anyDoc(); d(rnd.nextInt(d.length)) }
    def window(len: Int): Seq[String] = {
      val d = anyDoc()
      if (d.length <= len) d.toSeq
      else { val s = rnd.nextInt(d.length - len); d.slice(s, s + len).toSeq }
    }
    def atom(): String = rnd.nextInt(8) match {
      case 0 | 1 => "\"" + window(2 + rnd.nextInt(2)).mkString(" ") + "\""
      case 2 =>
        val t = term()
        t.substring(0, math.min(t.length, 1 + rnd.nextInt(3))) + "*"
      case 3 => window(2).mkString(" + ")
      case 4 => // two overlapping windows of one doc: forces coalescing
        val d = anyDoc(); val s = rnd.nextInt(d.length - 2)
        "\"" + d.slice(s, s + 2).mkString(" ") + "\" OR \"" +
          d.slice(s + 1, s + 3).mkString(" ") + "\""
      case 5 => // NEAR: same-doc terms so valid clumps exist; tight
        // windows so instance narrowing actually trims (r18b)
        val d = anyDoc()
        val a = d(rnd.nextInt(d.length)); val b = d(rnd.nextInt(d.length))
        if (rnd.nextBoolean()) s"NEAR($a $b, ${rnd.nextInt(5)})"
        else {
          val w = window(2)
          s"""NEAR("${w.mkString(" ")}" $a, ${1 + rnd.nextInt(4)})"""
        }
      case 6 => "^" + anyDoc().head // anchors: position-0 instance only
      case _ => term()
    }
    def expr(depth: Int): String =
      if (depth == 0) atom()
      else rnd.nextInt(4) match {
        case 0 => s"(${expr(depth - 1)}) OR (${expr(depth - 1)})"
        case 1 => s"(${expr(depth - 1)}) AND (${atom()})"
        case 2 => s"${atom()} ${atom()}"
        case _ => atom()
      }
    val queries = Seq.fill(80)(expr(1)).distinct
    def realHighlights(db: String): Map[Int, Map[Long, String]] = {
      val script = queries.zipWithIndex.map { case (q, i) =>
        s"SELECT 'q$i', rowid, highlight(d, 0, '<b>', '</b>') FROM d " +
          s"WHERE d MATCH '${q.replace("'", "''")}' ORDER BY rowid;"
      }.mkString("\n")
      SqliteCli.query(db, script)
        .collect { case Seq(Some(tag), Some(rid), h) =>
          (tag.drop(1).toInt, rid.toLong, h.getOrElse("")) }
        .groupBy(_._1)
        .map { case (k, v) => k -> v.map(t => t._2 -> t._3).toMap }
        .withDefaultValue(Map.empty[Long, String])
    }
    // side 1: RAW text via HighlightRaw
    val realRaw = realHighlights(f)
    queries.zipWithIndex.foreach { case (q, i) =>
      val mine = docs
        .filter(operators.Fts.matchQuery(Seq(col("text")), q))
        .select(col("doc_id"), operators.Fts.highlightRaw(col("text"), q))
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(mine === realRaw(i), s"RAW highlight diverges for <$q>")
    }
    // side 2: token-stream rendering on text that IS its token stream
    val streams = tokenArrays.map { case (id, toks) => (id, toks.mkString(" ")) }
    val f2 = dbFile()
    val script2 = new StringBuilder("CREATE VIRTUAL TABLE d USING fts5(body);\nBEGIN;\n")
    streams.foreach { case (id, body) =>
      script2 ++= s"INSERT INTO d(rowid, body) VALUES ($id, '${body.replace("'", "''")}');\n"
    }
    script2 ++= "COMMIT;\n"
    SqliteCli.query(f2, script2.toString)
    val realStream = realHighlights(f2)
    val sdf = streams.toSeq.toDF("doc_id", "body")
    queries.zipWithIndex.foreach { case (q, i) =>
      val mine = sdf
        .filter(operators.Fts.matchQuery(Seq(col("body")), q))
        .select(col("doc_id"), operators.Fts.highlight(Seq(col("body")), q))
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(mine === realStream(i), s"token-stream highlight diverges for <$q>")
    }
    assert(queries.count(_.contains("\"")) > 20,
      "generator degenerate: almost no phrase queries")
  }

  test("real FTS5: NEAR + ^anchor INSTANCE narrowing — highlight byte parity on adversarial docs") {
    // FTS5 trims a phrase's instance list, not just its row verdict:
    // a NEAR member reports only valid-clump participants, ^abc only
    // its position-0 instance (r18b — closes the last documented
    // highlight deviation). Docs are crafted decoy shapes: an
    // occurrence far outside the window (rows 1, 5, 7), k=3 clumps
    // where one phrase has an extra invalid instance (row 7),
    // overlapping multi-token members (rows 2, 10), prefix members
    // (row 9), NEAR under OR / NOT gating (rows 7, 8).
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = Seq(
      1L -> "a q q q q q q q q q q q b a",
      2L -> "a b c",
      3L -> "x a y b z a",
      4L -> "a a a q q q q b",
      5L -> "b q a q b q q q q q a",
      6L -> "a b a",
      7L -> "c q a b q q c",
      8L -> "a p1 p2 b w w w w a",
      9L -> "ax q q b axe",
      10L -> "m n q q m n z q m",
      11L -> "a c b")
    val f = dbFile()
    val script = new StringBuilder("CREATE VIRTUAL TABLE d USING fts5(t);\nBEGIN;\n")
    rows.foreach { case (id, t) =>
      script ++= s"INSERT INTO d(rowid, t) VALUES ($id, '$t');\n" }
    script ++= "COMMIT;\n"
    SqliteCli.query(f, script.toString)
    val docs = rows.toDF("doc_id", "text")
    val queries = Seq(
      "NEAR(a b, 2)", "NEAR(\"a b\" \"b c\", 0)", "^a", "^a*",
      "NEAR(a b c, 1)", "NEAR(a b c, 2)", "NEAR(\"m n\" m, 3)",
      "NEAR(ax* b, 2)", "NEAR(a b, 4) OR c", "a NOT NEAR(a b, 0)",
      "NEAR(a b, 1) AND c", "NEAR(a q* b, 1)")
    queries.foreach { q =>
      val real = SqliteCli.query(f,
        s"SELECT rowid, highlight(d, 0, '<b>', '</b>') FROM d " +
          s"WHERE d MATCH '${q.replace("'", "''")}' ORDER BY rowid;")
        .map(r => (r(0).get.toLong, r(1).get)).toMap
      val mineStream = docs
        .filter(operators.Fts.matchQuery(Seq(col("text")), q))
        .select(col("doc_id"), operators.Fts.highlight(Seq(col("text")), q))
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(mineStream === real, s"token-stream NEAR/anchor highlight diverges for <$q>")
      val mineRaw = docs
        .filter(operators.Fts.matchQuery(Seq(col("text")), q))
        .select(col("doc_id"), operators.Fts.highlightRaw(col("text"), q))
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(mineRaw === real, s"raw NEAR/anchor highlight diverges for <$q>")
    }
  }

  test("property: 120 random grammar queries over RAW multilingual text — verdict parity with real FTS5") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import org.apache.spark.sql.functions._
    val (f, docs) = multilingualCorpusDb()
    // terms drawn from the REAL unicode61 token stream of the planted
    // corpus — so Cyrillic/CJK/folded-accent terms appear organically
    val tokenArrays = docs
      .select(operators.Fts.tokens(Seq(col("text"))))
      .collect().map(_.getSeq[String](0)).filter(_.nonEmpty)
    val rnd = new scala.util.Random(20260815L)
    def anyDoc() = tokenArrays(rnd.nextInt(tokenArrays.length))
    def term(): String = {
      val t =
        if (rnd.nextInt(6) == 0) "zzzq" + rnd.nextInt(3) // absent
        else { val d = anyDoc(); d(rnd.nextInt(d.length)) }
      // sometimes re-accent a folded Latin vowel: the QUERY side must
      // fold exactly as the corpus side did
      if (rnd.nextInt(4) == 0)
        t.replace('e', 'é').replace('a', 'à').replace('u', 'ü')
      else t
    }
    def window(len: Int): Seq[String] = {
      val d = anyDoc()
      if (d.length <= len) d.toSeq
      else { val s = rnd.nextInt(d.length - len); d.slice(s, s + len).toSeq }
    }
    def atom(): String = rnd.nextInt(8) match {
      case 0 => "\"" + window(2 + rnd.nextInt(2)).mkString(" ") + "\""
      case 1 =>
        val t = term()
        t.substring(0, math.min(t.length, 1 + rnd.nextInt(3))) + "*"
      case 2 => "^" + term()
      case 3 => s"NEAR(${term()} ${term()}, ${rnd.nextInt(9)})"
      case _ => term()
    }
    def expr(depth: Int): String =
      if (depth == 0) atom()
      else rnd.nextInt(5) match {
        case 0 => s"(${expr(depth - 1)}) OR (${expr(depth - 1)})"
        case 1 => s"(${expr(depth - 1)}) AND (${expr(depth - 1)})"
        case 2 => s"(${expr(depth - 1)}) NOT (${expr(depth - 1)})"
        case 3 => s"${atom()} ${atom()}"
        case _ => atom()
      }
    val queries = Seq.fill(120)(expr(1 + rnd.nextInt(2)))
    val script = queries.zipWithIndex.map { case (q, i) =>
      s"SELECT 'q$i', rowid FROM d WHERE d MATCH '${q.replace("'", "''")}' ORDER BY rowid;"
    }.mkString("\n")
    val real: Map[Int, Set[Long]] = SqliteCli.query(f, script)
      .collect { case Seq(Some(tag), Some(rid)) => (tag.drop(1).toInt, rid.toLong) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      .withDefaultValue(Set.empty)
    queries.zipWithIndex.grouped(32).foreach { batch =>
      val preds = batch.map { case (q, i) =>
        operators.Fts.matchQuery(Seq(col("text")), q).as(s"q$i")
      }
      val rows = docs.select(col("doc_id").as("id") +: preds: _*).collect()
      batch.foreach { case (q, i) =>
        val mine = rows.filter { r =>
          val idx = r.fieldIndex(s"q$i"); !r.isNullAt(idx) && r.getBoolean(idx)
        }.map(_.getLong(0)).toSet
        assert(mine === real(i), s"row set diverges from real FTS5 for <$q>")
      }
    }
    // the generator must produce non-ASCII operands, not just ASCII soup
    assert(queries.count(_.exists(_ > 0x7F)) > 30,
      "generator degenerate: almost no non-ASCII queries")
  }

  test("real .db: a DATE column is stored as its ISO text") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    val csv = tempCsv("dates.csv", "id,d\n1,2000-12-23\n")
    val r = Pipeline.run(spark, cfg(Seq(csv)))
    assert(r.tables("dates").schema("d").dataType === org.apache.spark.sql.types.DateType)
    val f = dbFile()
    SqliteCli.writeDb(f, r)
    assert(SqliteCli.query(f, "SELECT d, typeof(d) FROM [dates];") ===
      Seq(Seq(Some("2000-12-23"), Some("text"))))
  }

  test("writeDb refuses a table whose key decreases from one partition to the next") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    for (key <- Seq("rowid", "id")) {
      val schema = new StructType().add(key, LongType, nullable = false).add("v", StringType)
      // partition 0 holds key 2, partition 1 holds key 1
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(2L, "b"), Row(1L, "a")), 2), schema)
      val r = Pipeline.Result("t.db", Map("t" -> df), Seq("t"),
        Seq("""CREATE TABLE "t" ("v" TEXT)"""), Nil)
      val e = intercept[IllegalStateException] { SqliteCli.writeDb(dbFile(), r) }
      assert(e.getMessage.contains(s"$key 1 follows 2"), e.getMessage)
    }
  }

  test("sqlite3 errors past 64 KiB of stderr fail fast with a bounded message") {
    assume(SqliteCli.binary.isDefined, "no sqlite3 binary on this box")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // each bad statement makes sqlite3 print a three-line parse error
    val script = Seq.fill(3000)("SELEC 1;").mkString("\n")
    val run = Future(intercept[IllegalStateException](SqliteCli.query(dbFile(), script)))
    val e = Await.result(run, 60.seconds)
    val msg = e.getMessage
    assert(msg.startsWith("sqlite3 failed (rc="), msg)
    assert(msg.contains("syntax error"), msg)
    assert(msg.linesIterator.size <= 22, msg)
    assert(msg.linesIterator.toSeq.last.matches("""\.\.\. \d+ more error lines"""), msg)
  }
}
