package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry

/** Prints every registered query as JSON: name -> {module, oracle}. The
  * module is the object that defines the query body. `derive.py` uses it
  * to rebuild the frozen op lists under `ops/`.
  */
object ListQueries {
  def main(args: Array[String]): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    val oracle = SparkEntry.oracleSql
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val n = root.putObject(name)
      n.put("module", fn.getClass.getName.split("\\$").head)
      oracle.get(name).foreach(n.put("oracle", _))
    }
    println(m.writeValueAsString(root))
  }
}
