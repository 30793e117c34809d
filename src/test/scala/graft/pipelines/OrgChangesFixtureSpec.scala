package graft.pipelines

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The org-change chain on a committed synthetic successor list
  * (`src/test/resources/org_changes/successors.csv`): a merger, a name
  * change, a 3-hop chain, a clean split, a split-from-multiple, and split
  * branches that later merge or change name. The expected tables were
  * produced by the relational (Spark-join) form of the chain, which the
  * driver-side derivation must reproduce row for row in every column.
  */
class OrgChangesFixtureSpec extends AnyFunSuite with SparkSpec {

  private def resource(name: String): String =
    getClass.getResource(s"/org_changes/$name").getPath

  private def readCsv(name: String, schema: String): DataFrame =
    spark.read.option("header", "true").option("nullValue", "NA").schema(schema).csv(resource(name))

  private val PathsSchema = "old_code string, new_code_0 string, " +
    (1 to 3).map(i => s"new_code_$i string, date_change_$i date, change_type_$i string, ")
      .mkString + "final_code string, experiences_split int, direct_path_complicated string, " +
    "adjacent_to_complicated int, part_of_complicated_path int"
  private val LookupSchema =
    "old_code string, final_code string, experiences_split int, problematic int"

  private lazy val successors =
    readCsv("successors.csv", "old_code string, new_code string, change_date date")
  private lazy val paths = OrgChangePaths.derivePaths(successors)

  private def assertSameRows(got: DataFrame, expected: DataFrame): Unit = {
    assert(got.columns.toSeq == expected.columns.toSeq)
    val onlyExpected = expected.exceptAll(got).collect()
    val onlyGot = got.exceptAll(expected).collect()
    assert(onlyExpected.isEmpty && onlyGot.isEmpty,
      s"expected-only: ${onlyExpected.mkString("; ")} | extra: ${onlyGot.mkString("; ")}")
  }

  test("derivePaths reproduces every row and column of the expected paths") {
    val expected = readCsv("derive_paths_expected.csv", PathsSchema)
    assert(expected.count() == 16)
    assertSameRows(paths, expected)
    val labels = paths.select("direct_path_complicated").distinct().collect().map(_.getString(0))
    assert(labels.toSet == Set("no", "split_from_multiple", "later_merger", "later_name_change"))
  }

  test("trustLookup reproduces the expected lookup from derived and from CSV paths") {
    val expected = readCsv("trust_lookup_expected.csv", LookupSchema)
    assertSameRows(OrgChanges.trustLookup(paths), expected)
    // the committed-CSV shape: every column a string, NA for null
    val csvPaths = spark.read.option("header", "true").option("nullValue", "NA")
      .csv(resource("derive_paths_expected.csv"))
    assertSameRows(OrgChanges.trustLookup(csvPaths), expected)
  }

  test("resolved reproduces the expected closure with hop counts") {
    assertSameRows(OrgChanges.resolved(paths),
      readCsv("resolved_expected.csv", "old_code string, final_code string, hops int"))
  }
}
