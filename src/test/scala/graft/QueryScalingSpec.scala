package graft

import org.scalatest.funsuite.AnyFunSuite

/** QueryScaling's replicas must be independent copies of the corpus; inputs
  * that would make two replicas share doc_ids or texts fail before staging.
  */
class QueryScalingSpec extends AnyFunSuite {

  test("checkReplicable: fails fast on colliding doc_ids or repeated rotations") {
    QueryScaling.checkReplicable(26, 0L, 20369L)
    val id = intercept[IllegalArgumentException](QueryScaling.checkReplicable(10, 0L, 20370L))
    assert(id.getMessage.contains("collide"), id.getMessage)
    val neg = intercept[IllegalArgumentException](QueryScaling.checkReplicable(10, -1L, 5L))
    assert(neg.getMessage.contains("collide"), neg.getMessage)
    val rot = intercept[IllegalArgumentException](QueryScaling.checkReplicable(27, 0L, 5L))
    assert(rot.getMessage.contains("repeat"), rot.getMessage)
  }
}
