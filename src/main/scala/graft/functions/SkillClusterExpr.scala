package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** X17 DBSCAN skill filter as one native kernel over the per-posting
  * skill array (kernel: graft.rules.SkillCluster — the ε-sweep and its
  * quirks are documented and pinned there / in SkillClusterSpec).
  */
object SkillClusterEvals {
  def filterSkills(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val in = new Array[String](n)
    var i = 0
    while (i < n) {
      // extraction arrays are containsNull=false; a null element (foreign
      // input) participates as an unknown label → dropped by the zero-norm
      // gate like any out-of-vocabulary string
      val u = arr.getUTF8String(i)
      in(i) = if (u == null) "" else u.toString
      i += 1
    }
    val out = graft.rules.SkillCluster.filterSkills(in.toSeq)
    new GenericArrayData(out.map(UTF8String.fromString).toArray[Any])
  }
}
