package graft.perfbench

import scala.jdk.CollectionConverters._

/** Values recorded for one workload and seed in perfbench/expect.json:
  * outputs whose exact value follows from the program's own choices
  * (hash functions, tie-breaking, index training) rather than from the
  * inputs alone, so the benchmark cannot derive them. A run of a
  * recorded seed must reproduce them; other seeds get only the checks
  * that hold for every seed. The file maps workload → seed → key →
  * list of numbers. */
final class Expect(values: Map[String, Seq[Double]]) {
  def apply(key: String): Option[Seq[Double]] = values.get(key)
}

object Expect {
  val none = new Expect(Map.empty)

  def load(file: java.io.File, workload: String, seed: Long): Expect = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file)
      .path(workload).path(seed.toString)
    new Expect(node.fieldNames().asScala.map { k =>
      k -> node.get(k).elements().asScala.map(_.asDouble).toSeq
    }.toMap)
  }
}
