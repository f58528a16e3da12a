package graft.sources

/** The per-file identity the plan-handoff maps (byte lengths, picked files)
  * key on: the file's table-relative path with the retained-trash segment
  * stripped. File NAMES are not table-unique on partitioned layouts — one
  * partitionBy write emits `part-00000-<uuid>.parquet` into EVERY `k=v/`
  * dir its task touched — so a name-keyed map silently assigns one
  * partition's byte length to another's file, and a parquet scan bounded
  * by a too-small length reads ZERO row groups without erroring (row
  * groups are planned by midpoint-in-[0, length)). Live and trash-retained
  * copies of a file share the key, which is what lets time-travel reads
  * resolve descriptors for trash-revived files.
  */
private[sources] object GraftPathKey {
  def of(tableRoot: String, p: org.apache.hadoop.fs.Path): String = {
    val rootAbs = new org.apache.hadoop.fs.Path(tableRoot)
      .toUri.getPath.stripSuffix("/")
    val trashAbs = rootAbs + "/_graft_trash"
    val abs = p.toUri.getPath
    if (abs.startsWith(trashAbs + "/")) abs.stripPrefix(trashAbs + "/")
    else if (abs.startsWith(rootAbs + "/")) abs.stripPrefix(rootAbs + "/")
    else p.getName // foreign path — the name is the best identity left
  }
}
