package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object Edges {

  /** The undirected edge set of `edges` as (src, dst): each input edge
    * contributes both directions, duplicates collapse. ONE explode scans
    * the input plan once (a union of two projections would run it
    * twice), and ONE hash(src) shuffle feeds the dedup and every
    * src-keyed consumer after it (subset rule: hash(src) clusters
    * (src, dst)). */
  def undirected(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    edges
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("ed"))
      .select(col("ed.src").as("src"), col("ed.dst").as("dst"))
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
}
