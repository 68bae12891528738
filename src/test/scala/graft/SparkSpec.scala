package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM). */
object TestSpark {
  lazy val spark: SparkSession = Session.build("local[4]", "4")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** The throwable plus its cause chain (Spark wraps builder-time
    * errors in analysis/extended-analysis exceptions).
    */
  def exceptionChain(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq

  /** Write fixture content to a temp file, return its path. */
  def tempCsv(name: String, content: String): String = {
    val dir: Path = Files.createTempDirectory("graft-fixture")
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }
}

/** The reference's six inline CSV fixtures, verbatim
  * (`/root/reference/tests/test_csvs_to_sqlite.py:10-38`, FIXTURES.md).
  */
object Fixtures {
  val CSV: String =
    """county,precinct,office,district,party,candidate,votes
      |Yolo,100001,President,,LIB,Gary Johnson,41
      |Yolo,100001,President,,PAF,Gloria Estela La Riva,8
      |Yolo,100001,Proposition 51,,,No,398
      |Yolo,100001,Proposition 51,,,Yes,460
      |Yolo,100001,State Assembly,7,DEM,Kevin McCarty,572
      |Yolo,100001,State Assembly,7,REP,Ryan K. Brown,291
      |""".stripMargin

  val CSV_MULTI: String =
    """film,actor_1,actor_2
      |The Rock,Sean Connery,Nicolas Cage
      |National Treasure,Nicolas Cage,Diane Kruger
      |Troy,Diane Kruger,Orlando Bloom
      |""".stripMargin

  val CSV_DATES: String =
    """headline,date,datetime
      |First headline,3rd May 2017,10pm on April 4 1938
      |Second headline,04/30/2005,5:45 10 December 2009
      |""".stripMargin

  val CSV_DATES_CUSTOM_FORMAT: String =
    """headline,date
      |Custom format,03/02/01
      |""".stripMargin

  val CSV_CUSTOM_PRIMARY_KEYS: String =
    """pk1,pk2,name
      |one,one,11
      |one,two,12
      |two,one,21
      |""".stripMargin

  val CSV_STRINGS_AND_DATES: String =
    """name,gross,release_date
      |Adaptation,22.5,6 of December in the year 2002
      |Face/Off,245.7,19 of June in the year 1997
      |The Rock,134.1,9 of June in the year 1996
      |""".stripMargin
}
