package graft

import graft.tools.SfReplica

/** [[SfReplica.replicate]] on the inputs that used to break it: an empty
  * table and a non-long id column.
  */
class SfReplicaSpec extends SparkSpec {

  import spark.implicits._

  test("replicate shifts int and long ids by copy and keeps their type") {
    val ints = Seq((3, "a"), (7, "b")).toDF("id", "t")
    val r = SfReplica.replicate(ints, Seq("id"), 3)
    assert(r.schema("id").dataType == ints.schema("id").dataType)
    assert(r.as[(Int, String)].collect().sorted.toSeq == Seq(
      (3, "a"), (7, "b"), (11, "a"), (15, "b"), (19, "a"), (23, "b")))
    val longs = Seq((5L, "a")).toDF("id", "t")
    assert(SfReplica.replicate(longs, Seq("id"), 2).as[(Long, String)].collect().sorted.toSeq ==
      Seq((5L, "a"), (11L, "a")))
  }

  test("replicate fails with a message on an empty table or a non-integral id") {
    val empty = Seq.empty[(Long, String)].toDF("id", "t")
    val e = intercept[IllegalArgumentException](SfReplica.replicate(empty, Seq("id"), 2))
    assert(e.getMessage.contains("empty table"))
    val strings = Seq(("x", "a")).toDF("id", "t")
    val e2 = intercept[IllegalArgumentException](SfReplica.replicate(strings, Seq("id"), 2))
    assert(e2.getMessage.contains("must be integral"))
  }
}
