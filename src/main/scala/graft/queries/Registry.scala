package graft
package queries

/** Every bench query, each declared once in its family's file. */
object Registry {
  val all: Seq[QueryDef] =
    TpchQueries.all ++ RelationalQueries.all ++ TextQueries.all ++ DedupQueries.all ++
      SketchQueries.all ++ CurationQueries.all ++ StoreQueries.all ++ MultimodalQueries.all
}
