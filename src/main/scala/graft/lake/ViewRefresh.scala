package graft.lake

/** The refresh driver both incremental views share ([[IncrementalView]],
  * [[JoinView]]): a view reflects one recorded version per source, and a
  * refresh moves every recorded version to the source's current one.
  *
  *  - Every source at its recorded version: the view is up to date.
  *  - Every source moved forward, but no commit in any window changes
  *    rows ([[LakeTable.rowsChangedIn]]: schema changes, compactions):
  *    the view's rows stand, and one metadata-only commit records the
  *    new versions. No Spark job runs.
  *  - Otherwise the view's delta rule folds the windows' changelogs; a
  *    window holding a data rewrite or expired history has no
  *    changelog, and the full-build rule rebuilds instead.
  *  - A view never built, or a source behind its recorded version
  *    (rolled back): full build.
  *
  * Both rules get the commit meta to write: `extraMeta`, every source's
  * current version under its key, and the refresh mode.
  */
private[lake] object ViewRefresh {

  /** A view source: its table, its current snapshot, and the view-meta
    * key holding the source version the view reflects.
    */
  final case class Source(table: LakeTable, current: Snapshot, versionKey: String)

  /** One source's window `(from, to]`; `rowsChanged` is false when no
    * commit in it changes rows (its changelog is empty).
    */
  final case class Window(from: Long, to: Long, rowsChanged: Boolean)

  def apply(view: LakeTable, sources: Seq[Source], extraMeta: Map[String, String])
           (delta: (Seq[Window], Map[String, String]) => Snapshot)
           (full: Map[String, String] => Snapshot): Snapshot = {
    def meta(mode: String) = extraMeta ++ sources.map(s =>
      s.versionKey -> s.current.version.toString) + (IncrementalView.RefreshModeKey -> mode)
    // newest-first walk: a maintenance commit on the view (compact,
    // expire) between refreshes must not lose the recorded versions
    val recorded = sources.map(s => view.latestMeta(s.versionKey).map(_.toLong))
    if (recorded.exists(_.isEmpty) ||
        recorded.zip(sources).exists { case (r, s) => r.get > s.current.version })
      full(meta("full"))
    else {
      val windows = recorded.zip(sources).map { case (r, s) =>
        Window(r.get, s.current.version,
          r.get < s.current.version && s.table.rowsChangedIn(r.get, s.current))
      }
      if (windows.forall(w => w.from == w.to)) view.latest.get
      else if (!windows.exists(_.rowsChanged)) view.setMeta(meta("incremental"))
      else
        try delta(windows, meta("incremental"))
        catch {
          case _: RewriteCommitException | _: SnapshotExpiredException => full(meta("full"))
        }
    }
  }
}
