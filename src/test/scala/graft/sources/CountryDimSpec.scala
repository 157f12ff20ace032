package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

class CountryDimSpec extends SparkSpec {

  private def withDim[T](body: String => T): T =
    SparkSpec.withTempDir("country") { dir =>
      val p = dir.resolve("country.json")
      Files.writeString(p,
        """[{"ISO": "US", "Country": "United States", "REG": "AMER"},
          |{"ISO": "DE", "Country": "Germany", "REG": "EMEA"},
          |{"ISO": "JP", "Country": "Japan", "REG": "APAC"}]""".stripMargin)
      body(p.toString)
    }

  test("reads the reference's array-of-objects format") {
    withDim { dimPath =>
      val dim = CountryDim.read(spark, dimPath)
      assert(dim.count() === 3)
      assert(dim.columns.toSeq === Seq("ISO", "Country", "REG"))
    }
  }

  test("enrich matches case-insensitively on ISO then full name") {
    import spark.implicits._
    withDim { dimPath =>
      val dim = CountryDim.read(spark, dimPath)
      val fact = Seq(
        (1L, "us"),             // ISO, lowercase
        (2L, "germany"),        // full name, lowercase
        (3L, "JP"),             // ISO, uppercase
        (4L, "Atlantis")        // no match
      ).toDF("id", "country_code")
      val got = CountryDim.enrich(fact, dim, "country_code")
        .select(col("id"), col("Geospecific"))
        .orderBy("id").collect()
        .map(r => (r.getLong(0), Option(r.getString(1))))
      assert(got.toSeq === Seq(
        (1L, Some("AMER")), (2L, Some("EMEA")), (3L, Some("APAC")), (4L, None)))
    }
  }

  test("the real reference dim file loads when present") {
    val refPath = "/root/reference/DataFiles/country.json"
    if (new java.io.File(refPath).exists()) {
      val dim = CountryDim.read(spark, refPath)
      assert(dim.count() === 249)
      val us = dim.filter(col("ISO") === "US").select("REG")
        .collect().head.getString(0)
      assert(us === "AMER")
    }
  }
}
