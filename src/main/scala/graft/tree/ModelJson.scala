package graft.tree

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.dist.Distances

/** JSON model sink/source (SURVEY S4/S5). The reference pickles aeon
  * objects (code/src/global_model_manager.py:508-552,
  * code/src/controller_loop.py:274-282,343-351); we own the model classes,
  * so the sink is a stable, inspectable JSON document instead.
  * Jackson ships on the Spark classpath — no extra dependency.
  */
object ModelJson {

  // ---------- writing ----------

  private def jsonArray(ds: Array[Double]): String =
    ds.mkString("[", ",", "]")

  private def nodeJson(n: PNode, sb: StringBuilder): Unit = n match {
    case PLeaf(lbl) =>
      sb.append("""{"kind":"leaf","label":""").append(lbl).append('}')
    case PSplit(m, labels, exemplars, children) =>
      sb.append("""{"kind":"split","measure":"""").append(m.name).append('"')
      sb.append(""","exemplar_labels":""").append(labels.mkString("[", ",", "]"))
      sb.append(""","exemplars":[""")
      exemplars.zipWithIndex.foreach { case (e, i) =>
        if (i > 0) sb.append(',')
        sb.append(jsonArray(e))
      }
      sb.append("""],"children":[""")
      children.zipWithIndex.foreach { case (c, i) =>
        if (i > 0) sb.append(',')
        nodeJson(c, sb)
      }
      sb.append("]}")
  }

  def treeJson(t: ProximityTreeModel): String = {
    val sb = new StringBuilder
    sb.append("""{"majority":""").append(t.majority).append(""","root":""")
    nodeJson(t.root, sb)
    sb.append('}')
    sb.toString
  }

  def forestJson(f: ProximityForestModel): String = {
    val sb = new StringBuilder
    sb.append("""{"use_weighting":""").append(f.useWeighting)
    sb.append(""","weights":""").append(f.weights.mkString("[", ",", "]"))
    sb.append(""","trees":[""")
    f.trees.zipWithIndex.foreach { case (t, i) =>
      if (i > 0) sb.append(',')
      sb.append(treeJson(t))
    }
    sb.append("]}")
    sb.toString
  }

  def saveTree(t: ProximityTreeModel, path: String): Unit =
    Files.write(Paths.get(path), treeJson(t).getBytes(StandardCharsets.UTF_8))

  def saveForest(f: ProximityForestModel, path: String): Unit =
    Files.write(Paths.get(path), forestJson(f).getBytes(StandardCharsets.UTF_8))

  // ---------- reading ----------

  private val mapper = new ObjectMapper()

  private def parseDoubles(n: JsonNode): Array[Double] = {
    val out = new Array[Double](n.size())
    var i = 0
    while (i < out.length) { out(i) = n.get(i).asDouble(); i += 1 }
    out
  }

  private def parseNode(n: JsonNode): PNode =
    n.get("kind").asText() match {
      case "leaf" => PLeaf(n.get("label").asInt())
      case "split" =>
        val labels = (0 until n.get("exemplar_labels").size())
          .map(i => n.get("exemplar_labels").get(i).asInt())
        val exemplars = (0 until n.get("exemplars").size())
          .map(i => parseDoubles(n.get("exemplars").get(i)))
        val children = (0 until n.get("children").size())
          .map(i => parseNode(n.get("children").get(i)))
        PSplit(Distances.byName(n.get("measure").asText()), labels, exemplars, children)
      case other => throw new IllegalArgumentException(s"unknown node kind: $other")
    }

  def treeFromJson(json: String): ProximityTreeModel = {
    val n = mapper.readTree(json)
    ProximityTreeModel(parseNode(n.get("root")), n.get("majority").asInt())
  }

  def forestFromJson(json: String): ProximityForestModel = {
    val n = mapper.readTree(json)
    val trees = (0 until n.get("trees").size()).map { i =>
      val t = n.get("trees").get(i)
      ProximityTreeModel(parseNode(t.get("root")), t.get("majority").asInt())
    }
    val weights = (0 until n.get("weights").size())
      .map(i => n.get("weights").get(i).asDouble())
    ProximityForestModel(trees, weights, n.get("use_weighting").asBoolean())
  }

  def loadTree(path: String): ProximityTreeModel =
    treeFromJson(new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8))

  def loadForest(path: String): ProximityForestModel =
    forestFromJson(new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8))
}
