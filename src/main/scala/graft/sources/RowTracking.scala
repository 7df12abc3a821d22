package graft.sources

/** Row tracking (Delta PROTOCOL.md): every add action carries a
  * `baseRowId`, a row's id is `baseRowId + row_index`, and the fresh-id
  * high watermark lives in the `delta.rowTracking` DOMAIN METADATA,
  * advanced in the same atomic commit as the adds that consume ids.
  *
  * Row-CHANGING writes follow the protocol's NON-PRESERVING profile:
  * creates/appends and copy-on-write rewrites assign FRESH baseRowIds
  * (a rewritten row legally becomes a new row — delta-spark's
  * delta.rowTracking.preserved=false semantics); merge-on-read DV
  * mutations keep files in place, so surviving rows KEEP their ids —
  * which is why `deleteWhereDv` is the id-stable delete on a tracked
  * table, and why `updateWhereDv`/`applyCdcDv` compose too: DV'd
  * files carry their baseRowId verbatim while the staged changed
  * rows take fresh ids from the watermark in the same commit.
  *
  * dataChange=false rewrites MUST preserve ids. compactDelta
  * implements the PRESERVED profile for them: it stores every
  * surviving row's id/commit-version in the materialized columns
  * named by [[RowIdColConf]]/[[RowVerColConf]] (readers prefer them
  * over baseRowId + row_index), so a tracked table CAN pay down its
  * small-file debt. Both OPTIMIZE and Z-ORDER run the preserved
  * profile on tracked tables (compactDelta and compactDeltaZOrder
  * share it); only a HALF-configured table — tracking enabled but the
  * materialized column names absent (an older writer's enablement) —
  * refuses, loudly, because a rewrite there would silently
  * re-identify every row.
  */
private[graft] object RowTracking {
  val Domain = "delta.rowTracking"
  val Features: Set[String] = Set("rowTracking", "domainMetadata")

  /** Table-config keys naming the MATERIALIZED row-identity columns
    * (delta-spark's preserved-profile mechanism): a preserving rewrite
    * stores each surviving row's id/commit-version as physical parquet
    * columns under these names — outside the logical schema — and
    * readers prefer them over baseRowId + row_index. Set by
    * [[LakeWriter.enableRowTracking]]; their absence (a table enabled
    * by an older writer) keeps preservation-requiring rewrites refusing.
    */
  val RowIdColConf = "delta.rowTracking.materializedRowIdColumnName"
  val RowVerColConf = "delta.rowTracking.materializedRowCommitVersionColumnName"
  val DefaultRowIdCol = "_graft_row_id"
  val DefaultRowVerCol = "_graft_row_commit_version"

  /** The configured materialized column names, when both are present. */
  def materializedCols(snap: DeltaReader.Snapshot): Option[(String, String)] =
    for {
      idc <- snap.configuration.get(RowIdColConf)
      vc <- snap.configuration.get(RowVerColConf)
    } yield (idc, vc)

  /** True when the table can run id-PRESERVING rewrites: tracking on,
    * watermark established, materialized column names configured.
    */
  def preservedProfileReady(snap: DeltaReader.Snapshot): Boolean =
    enabled(snap) && watermark(snap).isDefined && materializedCols(snap).isDefined

  def enabled(snap: DeltaReader.Snapshot): Boolean =
    snap.writerFeatures.contains("rowTracking")

  /** High watermark (largest assigned row id) from domain metadata. */
  def watermark(snap: DeltaReader.Snapshot): Option[Long] =
    snap.domainMetadata.get(Domain).map { conf =>
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(conf)
      require(n.has("rowIdHighWaterMark"),
        s"$Domain domain metadata lacks rowIdHighWaterMark: $conf")
      n.get("rowIdHighWaterMark").asLong()
    }

  /** The first fresh row id a new commit may assign, or None when the
    * table does not track rows. A table DECLARING rowTracking without
    * an established watermark refuses loudly — writing rows without
    * identities there would corrupt the feature's contract.
    */
  def rowIdBase(snap: DeltaReader.Snapshot): Option[Long] =
    if (!enabled(snap)) None
    else Some(watermark(snap).getOrElse(throw new IllegalArgumentException(
      "table declares the rowTracking writer feature but carries no " +
        s"$Domain high watermark — run LakeWriter.enableRowTracking to " +
        "backfill, or repair the foreign table; refusing to write rows " +
        "without identities")) + 1)

  /** Features an id-maintaining op may treat as append/rewrite-safe:
    * domainMetadata always (graft preserves unknown domains through
    * commits and checkpoints), rowTracking only when the watermark is
    * established (otherwise the op's gate refuses, naming the feature).
    */
  def safeExtra(snap: DeltaReader.Snapshot): Set[String] =
    if (enabled(snap) && watermark(snap).isEmpty) Set("domainMetadata")
    else Features

  /** The same for an id-PRESERVING rewrite: rowTracking only when
    * [[preservedProfileReady]] (domainMetadata still comes from
    * clustering's features when the table declares it).
    */
  def preservedExtra(snap: DeltaReader.Snapshot): Set[String] =
    if (preservedProfileReady(snap)) Features else Set.empty

  /** The domain-metadata action advancing the watermark to `newWm`. */
  def watermarkAction(newWm: Long): String = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val conf = om.writeValueAsString(s"""{"rowIdHighWaterMark":$newWm}""")
    s"""{"domainMetadata":{"domain":"$Domain","configuration":$conf,"removed":false}}"""
  }

  /** The add-action JSON fields carrying an AddFile's existing row-id
    * identity verbatim (DV re-adds, restore, clone).
    */
  def carryJson(a: DeltaReader.AddFile): String =
    a.baseRowId.map(b => s""","baseRowId":$b""").getOrElse("") +
      a.defaultRowCommitVersion.map(v => s""","defaultRowCommitVersion":$v""").getOrElse("")
}
