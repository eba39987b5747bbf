package graft.tools

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class PlanSnapSpec extends AnyFunSuite {

  test("normalise strips what varies by run, host and corpus, and keeps the plan") {
    val (dirA, dirB) = ("/data/a/sf0.01", "/srv/b/sf0.01")
    val (tmp, cwd) = (sys.props("java.io.tmpdir"), sys.props("user.dir"))
    // (token class, plan text on side A, on side B, equal after normalise?)
    val cases = Seq(
      ("expression ids", "Output [2]: [a#12L, b#13]", "Output [2]: [a#907L, b#908]", true),
      ("plan ids", "ENSURE_REQUIREMENTS, [plan_id=20250]", "ENSURE_REQUIREMENTS, [plan_id=3]", true),
      ("RDD ids", "MapPartitionsRDD[12] at localCheckpoint", "MapPartitionsRDD[40] at localCheckpoint", true),
      ("codegen ids", "Filter [codegen id : 3]\nProject [codegen id : 5]",
        "Filter [codegen id : 7]\nProject [codegen id : 8]", true),
      ("query-stage ids", "(5) ShuffleQueryStage\nOutput [1]: [a#1]\nArguments: 0",
        "(5) ShuffleQueryStage\nOutput [1]: [a#1]\nArguments: 4", true),
      ("call-site lines", "localCheckpoint at Stored.scala:80", "localCheckpoint at Stored.scala:99", true),
      ("lambda addresses", "graft.core.MapReduceJob$$$Lambda$7535/0x00007fced59f4be0@4572a13",
        "graft.core.MapReduceJob$$$Lambda$812/0x0000000801a3c000@1b2c3d4e", true),
      ("object addresses", "graft.functions.BitmapDistinct$Agg$@7a50b5f7", "graft.functions.BitmapDistinct$Agg$@8cee1f3", true),
      ("temp paths", s"[file:$tmp/graft_roundtrip_16209_11_orders_csv]", s"[file:$tmp/graft_roundtrip_4_2_orders_csv]", true),
      ("corpus dir", s"[file:$dirA/orders.parquet]", s"[file:$dirB/orders.parquet]", true),
      ("working dir", s"[file:$cwd/spark-warehouse/t]", "[file:<cwd>/spark-warehouse/t]", true),
      ("gate table hash", "default.bk_gate_lineitem_a5905d81", "default.bk_gate_lineitem_0c84c038", true),
      ("operator", "(3) SortMergeJoin Inner", "(3) BroadcastHashJoin Inner BuildRight", false),
      ("partition count", "hashpartitioning(a#1, 4)", "hashpartitioning(a#1, 8)", false),
      ("column order", "Output [2]: [a#5, b#6]", "Output [2]: [b#6, a#5]", false),
      ("corpus table", s"[file:$dirA/orders.parquet]", s"[file:$dirB/lineitem.parquet]", false),
      ("gate table", "default.bk_gate_lineitem_a5905d81", "default.bk_gate_orders_a5905d81", false)
    )
    cases.foreach { case (what, a, b, equal) =>
      val (na, nb) = (PlanSnap.normalise(a, dirA), PlanSnap.normalise(b, dirB))
      assert((na == nb) == equal, s"$what: '$na' vs '$nb'")
    }
  }

  test("plans/fingerprints.tsv lists every query once, sorted by name") {
    val rows = Files.readAllLines(Paths.get("plans/fingerprints.tsv")).asScala.toSeq.map(_.split("\t", -1))
    rows.foreach(r => assert(r.length == 2 && r(1).matches("[0-9a-f]{16}"), r.mkString("<TAB>")))
    assert(rows.map(_.head) == graft.SparkEntry.queries.keys.toSeq.sorted)
  }
}
