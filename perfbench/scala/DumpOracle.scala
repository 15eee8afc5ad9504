package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods.{pretty, render}

/** Writes `SparkEntry.oracleSql` as a JSON object to the given file,
  * for `gen_expected.py`. */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
    Files.write(Paths.get(args(0)),
      pretty(render(JObject(sql.map { case (k, v) => k -> JString(v) }.toList)))
        .getBytes(UTF_8))
  }
}
