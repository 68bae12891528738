package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.Fts

/** End-to-end pipeline runs mirroring the reference's CLI golden tests
  * (`tests/test_csvs_to_sqlite.py`): flat load, extract, shape, FTS,
  * dates, PK DDL, incremental append.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  def outDir(): String = Files.createTempDirectory("graft-out").toString

  def cfg(paths: Seq[String], db: String = "test.db"): Pipeline.Config =
    Pipeline.Config(paths = paths, dbName = db)

  test("test_flat: golden rows in rowid order with NULLs (:41-71)") {
    val csv = tempCsv("test.csv", Fixtures.CSV)
    val r = Pipeline.run(spark, cfg(Seq(csv)))
    assert(r.messages.last === "Created test.db from 1 CSV file")
    val rows = r.tables("test").orderBy("rowid")
      .select("county", "precinct", "office", "district", "party", "candidate", "votes")
      .collect()
    assert(rows.length === 6)
    assert(rows(0).toSeq === Seq("Yolo", 100001, "President", null, "LIB", "Gary Johnson", 41))
    assert(rows(5).toSeq === Seq("Yolo", 100001, "State Assembly", 7, "REP", "Ryan K. Brown", 291))
  }

  test("gzipped CSV runs the full pipeline (pandas compression parity)") {
    val dir = Files.createTempDirectory("graft-gzp")
    val f = dir.resolve("test.csv.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(f))
    try out.write(Fixtures.CSV.getBytes("UTF-8")) finally out.close()
    val r = Pipeline.run(spark, cfg(Seq(f.toString)))
    // reference naming: one splitext -> table "test.csv"
    val rows = r.tables("test.csv").orderBy("rowid")
      .select("county", "candidate", "votes").collect()
    assert(rows.length === 6)
    assert(rows(0).toSeq === Seq("Yolo", "Gary Johnson", 41))
  }

  test("test_extract_columns: dicts, %g district, reconstruction joins (:74-146)") {
    val csv = tempCsv("test.csv", Fixtures.CSV)
    val r = Pipeline.run(spark, cfg(Seq(csv)).copy(
      extractColumns = Seq("office", "district", "party", "candidate")))
    // golden dictionaries
    assert(r.tables("office").orderBy("id").collect().toSeq === Seq(
      Row(1L, "President"), Row(2L, "Proposition 51"), Row(3L, "State Assembly")))
    assert(r.tables("district").collect().toSeq === Seq(Row(1L, "7")))
    assert(r.tables("party").orderBy("id").collect().toSeq === Seq(
      Row(1L, "LIB"), Row(2L, "PAF"), Row(3L, "DEM"), Row(4L, "REP")))
    assert(r.tables("candidate").count() === 6)
    // encoded fact: office is now an id column
    val fact = r.tables("test").orderBy("rowid")
    assert(fact.select("office").collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 1L, 2L, 2L, 3L, 3L))
    // FK DDL emitted
    assert(r.ddl.exists(_.contains("""FOREIGN KEY ("office") REFERENCES [office](id)""")))
    // per-lookup FTS shadow tables in DDL (S12)
    assert(r.ddl.exists(_.contains(""""office_value_fts"""")))
  }

  test("test_shape golden: Cty TEXT + Vts REAL (:284-315)") {
    val csv = tempCsv("test.csv", Fixtures.CSV)
    val r = Pipeline.run(spark, cfg(Seq(csv), "test-reshaped.db").copy(
      shape = Some("county:Cty,votes:Vts(REAL)")))
    val t = r.tables("test")
    assert(t.drop("rowid").columns.toSeq === Seq("Cty", "Vts"))
    assert(t.orderBy("rowid").head.toSeq.take(2) === Seq("Yolo", 41.0))
    assert(r.ddl.exists(d => d.contains(""""Cty" TEXT""") && d.contains(""""Vts" REAL""")))
  }

  test("test_fts: 'president gloria' matches one row (:167-188)") {
    val csv = tempCsv("test.csv", Fixtures.CSV)
    val r = Pipeline.run(spark, cfg(Seq(csv), "fts.db").copy(
      ftsColumns = Seq("office", "party", "candidate")))
    val hits = r.tables("test")
      .filter(Fts.matches(Seq(col("office"), col("party"), col("candidate")), "president gloria"))
      .select("county", "precinct", "office", "party", "candidate").collect()
    assert(hits.toSeq === Seq(Row("Yolo", 100001, "President", "PAF", "Gloria Estela La Riva")))
    assert(r.ddl.exists(_.startsWith("""CREATE VIRTUAL TABLE "test_fts"""")))
  }

  test("fts error on missing column (:191-197)") {
    val csv = tempCsv("test.csv", Fixtures.CSV)
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, cfg(Seq(csv), "fts.db").copy(ftsColumns = Seq("badcolumn")))
    }
    assert(e.getMessage.contains(""""badcolumn" does not exist"""))
  }

  test("fts + extract: match against ORIGINAL strings through lookup joins (:200-229)") {
    val csv = tempCsv("test.csv", Fixtures.CSV)
    val out = outDir()
    val r = Pipeline.run(spark, cfg(Seq(csv), "fts-extracted.db").copy(
      extractColumns = Seq("office", "party", "candidate"),
      ftsColumns = Seq("party", "candidate"),
      outputDir = Some(out)))
    // the written inverted index contains original strings' terms
    val fts = spark.read.parquet(s"$out/test_fts.parquet")
    val matched = Fts.matchRowids(fts, "paf gloria").collect().map(_.getLong(0)).toSet
    assert(matched === Set(2L))
  }

  test("fts one lookup joined twice: md5 table_alias populate SQL + match (:232-281)") {
    // the actors pattern: actor_1 AND actor_2 both extracted to one
    // `actors` table and both in -f; the populate SELECT must left-join
    // [actors] twice, the second join under a table_alias_<md5>_2 alias
    // (utils.py:402-432), byte-for-byte including the double space after
    // an unaliased table
    val csv = tempCsv("test.csv", Fixtures.CSV_MULTI)
    val out = outDir()
    val r = Pipeline.run(spark, cfg(Seq(csv), "fts-extracted.db").copy(
      extractColumns = Seq("film", "actor_1:actors:name", "actor_2:actors:name"),
      ftsColumns = Seq("film", "actor_1", "actor_2"),
      outputDir = Some(out)))
    val alias = "table_alias_" +
      java.security.MessageDigest.getInstance("MD5")
        .digest("actors".getBytes("UTF-8")).map("%02x".format(_)).mkString + "_2"
    val expected =
      s"""INSERT INTO "test_fts" (rowid, "film", "actor_1", "actor_2") """ +
      s"""SELECT [test].rowid, [film]."value", [actors]."name", [$alias]."name" FROM [test] """ +
      s"""left join [film]  on [test]."film" = [film].id\n""" +
      s"""left join [actors]  on [test]."actor_1" = [actors].id\n""" +
      s"""left join [actors] $alias on [test]."actor_2" = [$alias].id"""
    assert(r.ddl.contains(expected))
    // one shared dictionary, ids first-seen across both columns
    assert(r.tables("actors").orderBy("id").collect().map(_.getString(1)).toSeq ===
      Seq("Sean Connery", "Nicolas Cage", "Diane Kruger", "Orlando Bloom"))
    // the written FTS index matches ORIGINAL names from either column:
    // 'kruger' appears as actor_2 of row 2 and actor_1 of row 3
    val fts = spark.read.parquet(s"$out/test_fts.parquet")
    assert(Fts.matchRowids(fts, "kruger").collect().map(_.getLong(0)).toSet === Set(2L, 3L))
    assert(Fts.matchRowids(fts, "connery cage").collect().map(_.getLong(0)).toSet === Set(1L))
  }

  test("dates and datetimes golden (:584-604)") {
    val csv = tempCsv("test.csv", Fixtures.CSV_DATES)
    val r = Pipeline.run(spark, cfg(Seq(csv), "dates.db").copy(
      dateCols = Seq("date"), datetimeCols = Seq("datetime")))
    val rows = r.tables("test").orderBy("rowid").select("date", "datetime").collect()
    assert(rows(0).toSeq === Seq("2017-05-03", "1938-04-04T22:00:00"))
    assert(rows(1).toSeq === Seq("2005-04-30", "2009-12-10T05:45:00"))
  }

  test("custom datetime format golden (:592-604)") {
    val csv = tempCsv("test.csv", Fixtures.CSV_DATES_CUSTOM_FORMAT)
    val r = Pipeline.run(spark, cfg(Seq(csv), "dates.db").copy(
      dateCols = Seq("date"), datetimeFormats = Seq("%y/%d/%m")))
    assert(r.tables("test").head.getAs[String]("date") === "2003-01-02")
  }

  test("just-strings + shape cast + dates compose (:694-766)") {
    val csv = tempCsv("test.csv", Fixtures.CSV_STRINGS_AND_DATES)
    val r = Pipeline.run(spark, cfg(Seq(csv), "films.db").copy(
      justStrings = true,
      dateCols = Seq("release_date"),
      datetimeFormats = Seq("%d of %B in the year %Y")))
    val rows = r.tables("test").orderBy("rowid").select("name", "gross", "release_date").collect()
    assert(rows(0).toSeq === Seq("Adaptation", "22.5", "2002-12-06"))
    assert(rows(1).toSeq === Seq("Face/Off", "245.7", "1997-06-19"))
  }

  test("composite primary key DDL (:632-644)") {
    val csv = tempCsv("test.csv", Fixtures.CSV_CUSTOM_PRIMARY_KEYS)
    val r = Pipeline.run(spark, cfg(Seq(csv), "pks.db").copy(
      primaryKeys = Seq("pk1", "pk2")))
    assert(r.ddl.exists(_.contains(",PRIMARY KEY ([pk1], [pk2])")))
  }

  test("filename + fixed columns (:318-339, :364-404)") {
    val csv = tempCsv("test1.csv", Fixtures.CSV)
    val r = Pipeline.run(spark, cfg(Seq(csv), "t.db").copy(
      filenameColumn = Some("source_file"),
      fixedColumnsInt = Seq("batch" -> 42L)))
    val row = r.tables("test1").head
    assert(row.getAs[String]("source_file") === "test1")
    assert(row.getAs[Long]("batch") === 42L)
  }

  test("directory load: two tables named ./test1 ./test2 with filename column (:318-339)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dirload")
    java.nio.file.Files.writeString(dir.resolve("test1.csv"), Fixtures.CSV)
    java.nio.file.Files.writeString(dir.resolve("test2.csv"), Fixtures.CSV_MULTI)
    val r = Pipeline.run(spark, cfg(Seq(dir.toString), "test-filename.db").copy(
      filenameColumn = Some("source")))
    assert(r.tables.keySet === Set("./test1", "./test2"))
    val t1 = r.tables("./test1").orderBy("rowid").head
    assert((t1.getAs[String]("county"), t1.getAs[String]("candidate"),
      t1.getAs[Int]("votes"), t1.getAs[String]("source")) ===
      (("Yolo", "Gary Johnson", 41, "./test1")))
    val t2 = r.tables("./test2").orderBy("rowid").head
    assert(t2.getAs[String]("source") === "./test2")
  }

  test("filename column survives shape pruning (:342-361)") {
    val csv = tempCsv("test.csv", Fixtures.CSV)
    val r = Pipeline.run(spark, cfg(Seq(csv)).copy(
      filenameColumn = Some("source"), shape = Some("county:Cty,votes:Vts")))
    val row = r.tables("test").orderBy("rowid").select("Cty", "Vts", "source").head
    assert(row.toSeq === Seq("Yolo", 41, "test"))
  }

  test("all three fixed-column variants append typed columns (:364-404)") {
    val csv = tempCsv("test.csv", Fixtures.CSV)
    val r = Pipeline.run(spark, cfg(Seq(csv)).copy(
      fixedColumns = Seq("col1" -> "foo", "col2" -> "bar"),
      fixedColumnsInt = Seq("col3" -> 1L),
      fixedColumnsFloat = Seq("col4" -> 1.1)))
    val t = r.tables("test").drop("rowid")
    assert(t.columns.toSeq === Seq("county", "precinct", "office", "district",
      "party", "candidate", "votes", "col1", "col2", "col3", "col4"))
    val row = t.orderBy(col("county")).select("col1", "col2", "col3", "col4").head
    assert(row.toSeq === Seq("foo", "bar", 1L, 1.1))
  }

  test("fixed columns survive shape pruning (:489-515)") {
    val csv = tempCsv("test.csv", Fixtures.CSV)
    val r = Pipeline.run(spark, cfg(Seq(csv)).copy(
      fixedColumns = Seq("col1" -> "foo", "col2" -> "bar"),
      shape = Some("county:Cty,votes:Vts")))
    val row = r.tables("test").orderBy("rowid").select("Cty", "Vts", "col1", "col2").head
    assert(row.toSeq === Seq("Yolo", 41, "foo", "bar"))
  }

  test("shape x extract x filename: extraction on shaped names, int values as strings (:518-554)") {
    val csv = tempCsv("test.csv", Fixtures.CSV)
    val r = Pipeline.run(spark, cfg(Seq(csv)).copy(
      filenameColumn = Some("Source"),
      shape = Some("county:Cty,votes:Vts"),
      extractColumns = Seq("Cty", "Vts", "Source")))
    val fact = r.tables("test")
    val rec = Seq("Cty", "Vts", "Source").foldLeft(fact) { (df, c) =>
      graft.operators.Extract.reconstruct(df, c, r.tables(c))
    }.orderBy("rowid").select("Cty", "Vts", "Source").head
    assert(rec.toSeq === Seq("Yolo", "41", "test")) // Vts round-trips as TEXT "41"
  }

  test("custom indexes: single and compound CREATE INDEX names (:557-572)") {
    val csv = tempCsv("test.csv", Fixtures.CSV)
    val r = Pipeline.run(spark, cfg(Seq(csv)).copy(
      indexes = Seq("county", "party,candidate")))
    assert(r.ddl.exists(_ === """CREATE INDEX ["test_county"] ON [test]("county");"""))
    assert(r.ddl.exists(_ ===
      """CREATE INDEX ["test_party_candidate"] ON [test]("party", "candidate");"""))
  }

  test("--no-fulltext-fks suppresses per-lookup FTS shadows (:607-629)") {
    val csv = tempCsv("test.csv", Fixtures.CSV)
    val r = Pipeline.run(spark, cfg(Seq(csv), "fts-extracted.db").copy(
      extractColumns = Seq("office", "party", "candidate"),
      ftsColumns = Seq("party", "candidate"),
      fulltextFks = false))
    val ftsDdl = r.ddl.filter(_.contains("USING FTS"))
    assert(ftsDdl.length === 1)
    assert(ftsDdl.head.contains("\"test_fts\""))
  }

  test("just-strings golden: all TEXT, blanks stay NULL (:647-691)") {
    val csv = tempCsv("test.csv", Fixtures.CSV)
    val r = Pipeline.run(spark, cfg(Seq(csv), "just-strings.db").copy(justStrings = true))
    val t = r.tables("test")
    assert(t.drop("rowid").schema.fields.forall(
      _.dataType === org.apache.spark.sql.types.StringType))
    val rows = t.orderBy("rowid")
      .select("county", "precinct", "office", "district", "party", "candidate", "votes")
      .collect()
    assert(rows(0).toSeq === Seq("Yolo", "100001", "President", null, "LIB", "Gary Johnson", "41"))
    assert(rows(4).toSeq === Seq("Yolo", "100001", "State Assembly", "7", "DEM", "Kevin McCarty", "572"))
    assert(r.ddl.exists(d => d.contains("\"votes\" TEXT") && d.contains("\"precinct\" TEXT")))
  }

  test("incremental append reuses dictionary ids (utils.py:210-223)") {
    val out = outDir()
    val csv1 = tempCsv("test.csv", Fixtures.CSV_MULTI)
    val base = cfg(Seq(csv1), "inc.db").copy(
      extractColumns = Seq("actor_1:actors:name", "actor_2:actors:name"),
      outputDir = Some(out))
    val r1 = Pipeline.run(spark, base)
    assert(r1.tables("actors").orderBy("id").collect().toSeq === Seq(
      Row(1L, "Sean Connery"), Row(2L, "Nicolas Cage"),
      Row(3L, "Diane Kruger"), Row(4L, "Orlando Bloom")))
    // second run: one known actor, one new -> known keeps id, new appends
    val csv2 = tempCsv("test.csv",
      "film,actor_1,actor_2\nSeven,Brad Pitt,Nicolas Cage\n")
    val r2 = Pipeline.run(spark, base.copy(paths = Seq(csv2)))
    val actors2 = spark.read.parquet(s"$out/actors.parquet").orderBy("id").collect()
    assert(actors2.toSeq === Seq(
      Row(1L, "Sean Connery"), Row(2L, "Nicolas Cage"),
      Row(3L, "Diane Kruger"), Row(4L, "Orlando Bloom"), Row(5L, "Brad Pitt")))
    assert(r1.messages.last === "Created inc.db from 1 CSV file")
    assert(r2.messages.last === "Added 1 CSV file to inc.db") // cli.py:287-292
    // fact rows from run 2 encode Nicolas Cage as the SAME id 2
    val test2 = spark.read.parquet(s"$out/test.parquet")
    val seven = test2.filter(col("film") === "Seven").head
    assert(seven.getAs[Long]("actor_1") === 5L) // Brad Pitt, newly appended
    assert(seven.getAs[Long]("actor_2") === 2L) // Nicolas Cage, reused id
  }

  test("multi-file with -t merges into one table with continuous rowids") {
    val a = tempCsv("a.csv", Fixtures.CSV_MULTI)
    val b = tempCsv("b.csv", "film,actor_1,actor_2\nSeven,Brad Pitt,Kevin Spacey\n")
    val r = Pipeline.run(spark, cfg(Seq(a, b), "merged.db").copy(tableName = Some("films")))
    val rows = r.tables("films").orderBy("rowid").collect()
    assert(rows.length === 4)
    assert(rows.map(_.getAs[Long]("rowid")).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(rows(3).getAs[String]("film") === "Seven")
  }

  test("three-file -t load numbers rowids 1..N in file order, files split into several partitions") {
    val a = tempCsv("a.csv", Fixtures.CSV_MULTI)
    val b = tempCsv("b.csv", "film,actor_1,actor_2\nSeven,Brad Pitt,Kevin Spacey\n")
    val c = tempCsv("c.csv",
      "film,actor_1,actor_2\nFargo,Frances McDormand,William H. Macy\n" +
        "Heat,Al Pacino,Robert De Niro\nAlien,Sigourney Weaver,Tom Skerritt\n")
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "48") // a few lines per partition
    try {
      val r = Pipeline.run(spark, cfg(Seq(a, b, c), "merged3.db").copy(tableName = Some("films")))
      val films = r.tables("films")
      assert(films.rdd.getNumPartitions > 3)
      // the frame's own order, partition by partition, is the rowid order
      val rows = films.collect()
      assert(rows.map(_.getAs[Long]("rowid")).toSeq === (1L to 7L))
      assert(rows.map(_.getAs[String]("film")).toSeq === Seq(
        "The Rock", "National Treasure", "Troy", "Seven", "Fargo", "Heat", "Alien"))
      r.release()
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("release() leaves no cached RDD behind for a --skip-errors run and a multi-file run") {
    val sc = spark.sparkContext
    def newCaches(before: Set[Int]) = sc.getPersistentRDDs.keySet.toSet -- before
    val bad = tempCsv("bad.csv", "a,b\n1,x\n2,y,extra\n3,z\n")
    val before1 = sc.getPersistentRDDs.keySet.toSet
    val r1 = Pipeline.run(spark, cfg(Seq(bad), "skip.db").copy(
      skipErrors = true, extractColumns = Seq("b"), outputDir = Some(outDir())))
    assert(r1.tables("bad").orderBy("rowid").select("a").collect().map(_.getInt(0)).toSeq ===
      Seq(1, 3))
    r1.release()
    assert(newCaches(before1).isEmpty)

    val a = tempCsv("a.csv", Fixtures.CSV_MULTI)
    val b = tempCsv("b.csv", "film,actor_1,actor_2\nSeven,Brad Pitt,Kevin Spacey\n")
    val before2 = sc.getPersistentRDDs.keySet.toSet
    val r2 = Pipeline.run(spark, cfg(Seq(a, b), "multi.db").copy(
      tableName = Some("films"), extractColumns = Seq("actor_1:actors:name"),
      ftsColumns = Seq("film"), outputDir = Some(outDir())))
    r2.release()
    assert(newCaches(before2).isEmpty)
    // released frames recompute from the CSVs
    assert(r2.tables("films").orderBy("rowid").select("film").collect().map(_.getString(0)).toSeq ===
      Seq("The Rock", "National Treasure", "Troy", "Seven"))
  }

  test("a lookup table extended from a multi-file parquet state keeps ids ascending per partition") {
    val out = outDir()
    // pre-existing lookup state in two files; the larger (ids 3..30)
    // comes first in a parquet scan, which orders splits by size
    val names = (1 to 30).map(i => f"Actor $i%02d")
    val existing = names.zipWithIndex.map { case (n, i) => (i + 1L, n) }.toDF("id", "name")
    existing.filter(col("id") <= 2).coalesce(1).write.parquet(s"$out/actors.parquet")
    existing.filter(col("id") > 2).coalesce(1).write.mode("append").parquet(s"$out/actors.parquet")
    assert(new java.io.File(s"$out/actors.parquet").list().count(_.endsWith(".parquet")) === 2)
    val csv = tempCsv("films.csv", "film,actor_1\nSeven,Brad Pitt\nTroy,Actor 01\n")
    val r = Pipeline.run(spark, cfg(Seq(csv), "ext.db").copy(
      extractColumns = Seq("actor_1:actors:name"), outputDir = Some(out)))
    val ids = r.tables("actors").collect().map(_.getLong(0)).toSeq
    assert(ids === (1L to 31L))
    r.release()
  }

  test("a malformed CSV without --skip-errors fails only its own file (cli.py per-file LoadCsvError)") {
    val bad = tempCsv("bad.csv", "a,b\n1,x\n2,y,EXTRA,COLS\n3,z\n")
    val good = tempCsv("good.csv", "a,b\n1,x\n")
    val r = Pipeline.run(spark, cfg(Seq(bad, good), "failfast.db").copy(outputDir = Some(outDir())))
    assert(r.tables.keySet === Set("good"))
    assert(r.tables("good").select("b").collect().map(_.getString(0)).toSeq === Seq("x"))
    r.release()
  }
}
