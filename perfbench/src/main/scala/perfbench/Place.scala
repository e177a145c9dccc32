package perfbench

import org.apache.spark.sql.SparkSession
import graft.graph.GraphViews
import graft.store.TableTwinStore

/** The place graph of the generated TPC-H-shaped tables as a served twin
  * store: DTDL models Place ⊃ Region ⊃ Nation ⊃ Customer/Supplier, and the
  * twins and relationships that GraphViews derives, bulk-imported. */
object Place {

  val Clock: () => String = () => "2026-01-01T00:00:00Z"

  private def iface(id: String, base: Option[String], contents: String) = {
    val ext = base.map(b => s""","extends":["$b"]""").getOrElse("")
    s"""{"@id":"$id","@type":"Interface","@context":"dtmi:dtdl:context;3"$ext,""" +
      s""""contents":[$contents]}"""
  }

  val Models: Seq[String] = Seq(
    iface(GraphViews.Place, None,
      """{"@type":"Property","name":"name","schema":"string"},""" +
        """{"@type":"Property","name":"acctbal","schema":"double"},""" +
        """{"@type":"Property","name":"mktsegment","schema":"string"},""" +
        """{"@type":"Property","name":"tags",""" +
        """"schema":{"@type":"Array","elementSchema":"string"}}"""),
    iface(GraphViews.Region, Some(GraphViews.Place), ""),
    iface(GraphViews.Nation, Some(GraphViews.Region),
      s"""{"@type":"Relationship","name":"in_region",""" +
        s""""target":"${GraphViews.Region}"}"""),
    iface(GraphViews.Customer, Some(GraphViews.Nation),
      s"""{"@type":"Relationship","name":"located_in",""" +
        s""""target":"${GraphViews.Nation}"}"""),
    iface(GraphViews.Supplier, Some(GraphViews.Nation),
      s"""{"@type":"Relationship","name":"located_in",""" +
        s""""target":"${GraphViews.Nation}"}"""))

  /** Create a store in the empty directory `dir`, upload the models and
    * import the whole place graph of the tables under `dataDir`. */
  def importStore(spark: SparkSession, dataDir: String, dir: String)
      : TableTwinStore = {
    val st = TableTwinStore.open(spark, dir, Clock)
    st.createModels(Models)
    val g = GraphViews.graph(spark, dataDir)
    st.importGraph(GraphViews.storeCanonicalTwins(g.twins),
      GraphViews.storeCanonicalRels(g.relationships))
    st
  }
}
