package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.DriverManager
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end test of the reference-CLI replacement: a dataset directory
  * holding the four fixture CSVs → MovieDbImport.run → all 15 tables
  * queryable in Derby. */
class MovieDbImportSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val url = "jdbc:derby:memory:graftImport;create=true"
  private val csvNames = Seq("movies_metadata.csv", "credits.csv",
    "keywords.csv", "ratings.csv")

  test("run() imports a dataset directory end-to-end") {
    val dir = Files.createTempDirectory("graft-dataset")
    for (f <- csvNames)
      Files.copy(Paths.get(TestSpark.fixture(f)), dir.resolve(f),
        StandardCopyOption.REPLACE_EXISTING)

    MovieDbImport.run(spark, dir.toString, url)

    val con = DriverManager.getConnection(url)
    try {
      val st = con.createStatement()
      def count(t: String): Long = {
        val rs = st.executeQuery(s"SELECT COUNT(*) FROM $t")
        rs.next(); rs.getLong(1)
      }
      assert(graft.sink.JdbcSink.tableDdl.map { case (t, _) => count(t) }.sum
        == 52) // 15 tables, per-table totals pinned by JdbcSinkSpec
      // the flagship analytical join the schema exists to serve
      val rs = st.executeQuery(
        """SELECT m.title, g.name FROM movies m
          |JOIN movies_genres mg ON mg.movie_id = m.id
          |JOIN genres g ON g.id = mg.genre_id
          |WHERE m.rating > 4 ORDER BY g.name""".stripMargin)
      val got = Iterator.continually(rs)
        .takeWhile(_.next()).map(r => (r.getString(1), r.getString(2))).toList
      assert(got == List(("Star Wars", "Action"), ("Star Wars", "Adventure")))
    } finally con.close()
  }

  /** Full multiset snapshot of every table, read back through the same
    * JDBC source path FormatsSpec covers. */
  private def snapshot(url: String): Map[String, Seq[String]] =
    graft.sink.JdbcSink.tableDdl.map { case (t, _) =>
      t -> spark.read.format("jdbc").option("url", url)
        .option("dbtable", t).load()
        .collect().map(_.toString).sorted.toSeq
    }.toMap

  /** CSV text as records of RAW field text (quotes and escapes kept), so
    * a reordered file carries every cell byte for byte. */
  private def rawRecords(text: String): Seq[Vector[String]] = {
    val recs = Seq.newBuilder[Vector[String]]
    var fields = Vector.empty[String]
    val cur = new StringBuilder
    var quoted = false
    text.foreach {
      case '"' => quoted = !quoted; cur += '"'
      case ',' if !quoted => fields :+= cur.result(); cur.clear()
      case '\n' if !quoted =>
        recs += (fields :+ cur.result()); fields = Vector.empty; cur.clear()
      case c => cur += c
    }
    if (cur.nonEmpty || fields.nonEmpty) recs += (fields :+ cur.result())
    recs.result()
  }

  /** The Kaggle files' real column order; columns the fixtures lack are
    * filled with a constant cell. */
  private val kaggleLayout: Map[String, (Seq[String], String)] = Map(
    "movies_metadata.csv" -> (Seq("adult", "belongs_to_collection", "budget",
      "genres", "homepage", "id", "imdb_id", "original_language",
      "original_title", "overview", "popularity", "poster_path",
      "production_companies", "production_countries", "release_date",
      "revenue", "runtime", "spoken_languages", "status", "tagline", "title",
      "video", "vote_average", "vote_count"), "False"),
    "credits.csv" -> (Seq("cast", "crew", "id"), ""),
    "keywords.csv" -> (Seq("id", "keywords"), ""),
    "ratings.csv" -> (Seq("userId", "movieId", "rating", "timestamp"), "7"))

  test("Kaggle column order: columns bind by header, same 15 tables") {
    val fixtures = Files.createTempDirectory("graft-dataset-fixture")
    val kaggle = Files.createTempDirectory("graft-dataset-kaggle")
    for (f <- csvNames) {
      val src = Paths.get(TestSpark.fixture(f))
      Files.copy(src, fixtures.resolve(f), StandardCopyOption.REPLACE_EXISTING)
      val recs = rawRecords(new String(Files.readAllBytes(src), "UTF-8"))
      val (order, filler) = kaggleLayout(f)
      val at = recs.head.zipWithIndex.toMap
      assert(recs.head.forall(order.contains), s"$f: ${recs.head}")
      val out = (order +: recs.tail.map(r =>
        order.map(c => at.get(c).map(r).getOrElse(filler))))
        .map(_.mkString(",")).mkString("", "\n", "\n")
      Files.write(kaggle.resolve(f), out.getBytes("UTF-8"))
    }
    val (urlA, urlB) = ("jdbc:derby:memory:graftFixtureOrder;create=true",
      "jdbc:derby:memory:graftKaggleOrder;create=true")
    MovieDbImport.run(spark, fixtures.toString, urlA)
    MovieDbImport.run(spark, kaggle.toString, urlB)
    val (want, got) = (snapshot(urlA), snapshot(urlB))
    assert(want.size == 15 && want.values.map(_.size).sum == 52)
    assert(got == want)
  }

  test("a CSV whose header lacks a schema column fails, naming it") {
    val dir = Files.createTempDirectory("graft-dataset-short")
    val f = dir.resolve("ratings.csv")
    Files.write(f, "userId,movieId,timestamp\n1,11,7\n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      graft.etl.EtlKit.readCsv(spark, f.toString,
        graft.model.RefSchemas.ratingsCsv)
    }
    assert(e.getMessage.contains("header lacks column(s) rating;"))
  }

  test("re-running the import is idempotent (drop-recreate-append)") {
    val url2 = "jdbc:derby:memory:graftImportTwice;create=true"
    val dir = Files.createTempDirectory("graft-dataset-rerun")
    for (f <- csvNames)
      Files.copy(Paths.get(TestSpark.fixture(f)), dir.resolve(f),
        StandardCopyOption.REPLACE_EXISTING)
    MovieDbImport.run(spark, dir.toString, url2)
    val first = snapshot(url2)
    MovieDbImport.run(spark, dir.toString, url2)
    val second = snapshot(url2)
    assert(first.values.map(_.size).sum == 52) // same totals as run #1's test
    assert(second == first,
      "second run changed table contents — import is not idempotent")
  }
}
