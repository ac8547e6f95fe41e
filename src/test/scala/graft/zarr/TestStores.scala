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

  /** Copy every object of store `from` into store `to` (same keys):
    * the chunk tree of a split `chunkStore` write merged back into its
    * metadata tree is the complete store.
    */
  def mergeInto(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val walk = java.nio.file.Files.walk(src)
    try walk.filter(java.nio.file.Files.isRegularFile(_)).forEach { f =>
      val dst = java.nio.file.Paths.get(to).resolve(src.relativize(f).toString)
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.copy(f, dst)
    } finally walk.close()
  }
}
