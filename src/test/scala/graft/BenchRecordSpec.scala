package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the shape of the bench's two outputs (`Bench.render`) on the
  * committed record's fields: the full record and the compact contract
  * line both parse, the full record carries every contract-line key, and
  * the contract line fits the driver's 2,000-char stdout tail window.
  */
class BenchRecordSpec extends AnyFunSuite {
  private val om = new ObjectMapper()

  /** Keys `render` writes itself; every other key of a record is a
    * metric field. `sections_merged` is listed so the older committed
    * record's provenance is not fed back in as a metric.
    */
  private val renderKeys = Set("metric", "value", "unit", "sf", "n_queries",
    "queries_file", "queries", "scaling_pair", "scaling_cluster_pair",
    "sections_completed", "sections_skipped", "sections_truncated",
    "sections_merged", "section_load", "promoted", "budget_sec",
    "elapsed_sec", "killed")

  test("the committed record's fields render to a full record and a contract line that fit the tail window") {
    val rec = om.readTree(Files.readString(Paths.get("BENCH_LOCAL.json")))
    val fields = rec.properties().asScala.toSeq
      .filterNot(e => renderKeys(e.getKey)).map(e => e.getKey -> e.getValue.toString)
    assert(fields.map(_._1).contains("scaling_efficiency_local_cluster"))
    def strs(k: String): Seq[String] =
      Option(rec.get(k)).toSeq.flatMap(_.asScala.map(_.asText))
    val load = rec.get("section_load").properties().asScala.toSeq
      .map(e => e.getKey -> e.getValue.toString)
    val queries = rec.get("queries")
    for (killed <- Seq(false, true)) {
      val (full, contract) = Bench.render(fields, queries.toString,
        rec.get("value").asDouble, queries.size, rec.get("sf").asText,
        "BENCH_RUN_20260101_000000.json", strs("sections_completed"),
        strs("sections_skipped"), strs("sections_truncated"), load,
        rec.get("promoted").asBoolean, rec.get("budget_sec").asDouble,
        rec.get("elapsed_sec").asDouble, killed)
      val f = om.readTree(full)
      val c = om.readTree(contract)
      val fullKeys = f.fieldNames().asScala.toSet
      val contractKeys = c.fieldNames().asScala.toSet
      assert(contractKeys.subsetOf(fullKeys), s"missing from the full record: ${contractKeys -- fullKeys}")
      assert(!full.contains("sections_merged") && !contract.contains("sections_merged"))
      assert(contract.length <= 2000, s"contract line is ${contract.length} chars")
      info(s"killed=$killed: contract line ${contract.length} chars, full record ${full.length}")
      // every metric field lands unchanged in both; the query map only in the full record
      fields.foreach { case (k, v) =>
        assert(f.get(k).toString == v, k)
        assert(c.get(k).toString == v, k)
      }
      assert(f.get("queries") == queries && !contractKeys("queries"))
      assert(c.get("n_queries").asInt == queries.size)
      assert(c.has("killed") == killed)
    }
  }
}
