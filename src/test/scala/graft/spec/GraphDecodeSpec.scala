package graft.spec

import org.scalatest.funsuite.AnyFunSuite

/** Graph files are user input (the CLI reads them): malformed nodes fail
  * with an IllegalArgumentException naming the offending field or type. */
class GraphDecodeSpec extends AnyFunSuite {

  private val ds = LoadLocalParquetDatasetOp("abc123", "/data/foo.parquet")
  private val take = TakeRowsOp(ds, skip = 2L, numRows = Some(3L))

  /** `op`'s graph with its own node's fields edited by `edit`. */
  private def withNode(op: OpSpec)(edit: JObj => JObj): JObj =
    Graph.serialize(op) match {
      case JObj(fields) => JObj(fields.map {
        case ("nodes", JObj(nodes)) => ("nodes", JObj(nodes.map {
          case (u, o: JObj) if u == op.uuid => (u, edit(o))
          case kv => kv
        }))
        case kv => kv
      })
    }

  private def withTakeNode(edit: JObj => JObj): JObj = withNode(take)(edit)

  private def rejected(graph: JObj): String =
    intercept[IllegalArgumentException](Graph.deserialize(graph)).getMessage

  test("a wrong JSON kind for a scalar field names the field") {
    val msg = rejected(withTakeNode(o => JObj(o.fields + ("skip" -> JString("2")))))
    assert(msg.contains("TakeRowsOp.skip") && msg.contains("integer"))
  }

  test("a missing required field names the field; a missing option is None") {
    assert(rejected(withTakeNode(o => JObj(o.fields - "skip")))
      .contains("TakeRowsOp.skip"))
    val noRows = TakeRowsOp(ds, skip = 2L)
    assert(Graph.deserialize(withNode(noRows)(o => JObj(o.fields - "num_rows")))
      == Seq(noRows))
  }

  test("a dependency of the wrong result kind names the field and the kind") {
    val score = SelectScoreColumnOp(ds, "s")
    val graph = withTakeNode(o => JObj(o.fields + ("dataset" -> JString(score.uuid))))
    val withScore = graph match {
      case JObj(fields) => JObj(fields.map {
        case ("nodes", JObj(nodes)) =>
          ("nodes", JObj(nodes + (score.uuid -> score.toJson)))
        case kv => kv
      })
    }
    val msg = rejected(withScore)
    assert(msg.contains("TakeRowsOp.dataset") && msg.contains("DatasetType"))
  }

  test("an unknown type name and a graft.spec class that is not an op are rejected") {
    Seq("NoSuchOp", "Graph", "JObj", "DatasetType", "SelectColumnOp", "OpSpec",
        "graft.spec.TakeRowsOp", "").foreach { name =>
      val msg = rejected(withTakeNode(o => JObj(o.fields + ("type" -> JString(name)))))
      assert(msg.contains("not found"), name)
    }
  }

  test("a constructor check failing on decoded fields surfaces as itself") {
    val msg = rejected(withTakeNode(o => JObj(o.fields + ("skip" -> JLong(0L)))))
    assert(msg.contains("skip must be >= 1"))
  }

  test("number leniency: a whole double decodes into a Long, an integer into a Double") {
    val viaDouble = withTakeNode(o => JObj(o.fields + ("skip" -> JDouble(2.0))))
    assert(Graph.deserialize(viaDouble) == Seq(take))
    assert(rejected(withTakeNode(o => JObj(o.fields + ("skip" -> JDouble(2.5)))))
      .contains("TakeRowsOp.skip"))
    val sample = StratifiedSampleOp(ds, SelectCategoricalColumnOp(ds, "c"), 1.0)
    assert(Graph.deserialize(withNode(sample)(o =>
      JObj(o.fields + ("frac" -> JLong(1L))))) == Seq(sample))
  }
}
