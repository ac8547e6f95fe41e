package graft.zarr

/** Shared fixture helper: hand-mutating a store's per-node docs makes
  * any consolidated metadata stale, and the zarr convention is that
  * consolidated wins — a real mutating writer must re-consolidate or
  * drop it. Mutation fixtures call this to model the foreign store
  * honestly (foreign writers wouldn't carry OUR consolidated copy).
  */
object TestStores {
  def deconsolidate(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir, "zarr.json")
    if (java.nio.file.Files.exists(root)) {
      val mapper = graft.meta.ZarrJson.mapper
      val doc = mapper.readTree(new String(java.nio.file.Files.readAllBytes(root)))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      if (doc.has("consolidated_metadata")) {
        doc.remove("consolidated_metadata")
        java.nio.file.Files.write(root, mapper.writeValueAsBytes(doc))
      }
    }
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, ".zmetadata"))
  }
}
