package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Plans.normalize]] makes the per-run parts of a plan stable. */
class PlansSpec extends AnyFunSuite {

  test("normalize replaces the scratch pid, temp-dir suffixes and lambda hashes") {
    assert(Plans.normalize(
      "Location: InMemoryFileIndex [file:/tmp/graft_jsonl_26963_a1e8d12c19f21945]") ==
      "Location: InMemoryFileIndex [file:/tmp/graft_jsonl_<pid>_a1e8d12c19f21945]")
    assert(Plans.normalize("[file:/tmp/graft_partition_prune_3829_a1e8d12c19f21945/b=1]") ==
      "[file:/tmp/graft_partition_prune_<pid>_a1e8d12c19f21945/b=1]")
    assert(Plans.normalize("file:/tmp/graft_mf_q8361927734128877062/manifest/b=0") ==
      "file:/tmp/graft_mf_q<tmp>/manifest/b=0")
    assert(Plans.normalize("Arguments: graft.operators.Multimodal$$$Lambda$7127/" +
      "0x00007f6925baa688@132826c1, obj#7: scala.Tuple4") ==
      "Arguments: graft.operators.Multimodal$$$Lambda, obj#1: scala.Tuple4")
  }

  test("normalize renumbers expression, plan, RDD and lambda ids by first appearance") {
    assert(Plans.normalize(
      "Functions: [transform(t#88, lambdafunction(lambda x_465#90, lambda x_465#90, false))]") ==
      "Functions: [transform(t#1, lambdafunction(lambda x_1#2, lambda x_1#2, false))]")
    assert(Plans.normalize(
      "Output [2]: [id#1507L, v#1498]\n" +
        "Input [2]: [v#1498, id#1507L], MapPartitionsRDD[4807], plan_id=190\n" +
        "Arguments: [id#1507L], ParallelCollectionRDD[12], plan_id=175") ==
      "Output [2]: [id#1L, v#2]\n" +
        "Input [2]: [v#2, id#1L], MapPartitionsRDD[1], plan_id=1\n" +
        "Arguments: [id#1L], ParallelCollectionRDD[2], plan_id=2")
  }
}
