package graft

import graft.store.{CatalogTable, Fs}

/** The K9 registration's lifecycle contracts: a session-unique
  * UUID-tagged catalog name (an identity-hash name can be reused after
  * GC and DROP another session's live table), a serialized first build
  * (two concurrent builders must not both DROP/CREATE the shared name
  * and orphan the loser's scratch root), and a LOCATION that carries its
  * scheme through the Fs seam.
  */
class CatalogTableSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def catalogRoots(): Set[String] =
    Fs.list(sys.props("java.io.tmpdir"))
      .filter(e => e.isDir && e.name.startsWith("graft_catalog_"))
      .map(_.path).toSet

  private def trackedRoot: Option[String] = CatalogTable.built.values(spark).headOption.map(_._2)

  test("concurrent first use registers ONE table and tracks ONE reapable root") {
    CatalogTable.built.clear(spark)
    val before = catalogRoots()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
    val threads = (1 to 4).map { _ =>
      new Thread(() =>
        try counts.add(CatalogTable.queries("web_engagement_catalog")(spark, dir).count())
        catch { case t: Throwable => errors.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"concurrent build failed: ${errors.peek()}")
    assert(counts.size == 4 && counts.stream.distinct.count == 1 && counts.peek() > 0)

    // exactly one NEW scratch root appeared, and it is the tracked one —
    // an unserialized build would leave the losers' roots untracked here
    val root = trackedRoot
    assert(root.isDefined && Fs.exists(root.get), s"tracked root missing: $root")
    assert(catalogRoots() -- before == Set(root.get),
      s"untracked scratch roots leaked: ${catalogRoots() -- before -- root}")

    // the registered name is the session's memoized UUID tag (32 hex
    // chars), not an 8-hex identity hash, and it is stable per session
    val name = CatalogTable.sessionTableName(spark)
    assert(name.matches("graft_events_cat_[0-9a-f]{32}"), name)
    assert(CatalogTable.sessionTableName(spark) == name)
    assert(spark.catalog.tableExists(name), s"$name not in the catalog")

    // the DDL location went through the seam: scheme-qualified URI
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $name")
      .filter("col_name = 'Location'").select("data_type").head().getString(0)
    assert(loc.startsWith("file:"), s"LOCATION is not scheme-qualified: $loc")

    // memo hit: a repeat use builds nothing new
    assert(CatalogTable.queries("web_engagement_catalog")(spark, dir).count() > 0)
    assert(trackedRoot == root && catalogRoots() -- before == Set(root.get))

    // clear drops the registration AND the root — nothing dangles
    CatalogTable.built.clear(spark)
    assert(!spark.catalog.tableExists(name))
    assert(catalogRoots() == before, "clear left a scratch root behind")
  }
}
