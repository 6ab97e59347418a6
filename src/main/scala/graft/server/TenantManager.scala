package graft.server

import org.apache.spark.sql.SparkSession
import java.security.MessageDigest

/** Multi-tenant routing (reference S22, `/root/reference/main.py:71-132`):
  * sha256(user:password) keys the tenant's namespace. The reference maps the
  * hash to a per-user DuckDB file; here it maps to a per-tenant Spark
  * database under one shared warehouse (same isolation unit: separate
  * catalogs of tables; note the reference performs no real password
  * verification either — the hash IS the key, `main.py:122-132`).
  *
  * Anonymous requests share the `default` database (reference: shared
  * `:memory:`, `main.py:77,93`).
  */
final class TenantManager(spark: SparkSession) {

  def tenantDatabase(auth: Option[(String, String)]): String = auth match {
    case None | Some(("", _)) => "default"
    case Some((user, pass)) =>
      val h = MessageDigest.getInstance("SHA-256")
        .digest(s"$user:$pass".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
      s"tenant_$h"
  }

  /** One cached session per (tenant, database) — the reference likewise
    * caches per-tenant connections (`main.py:95-112`). A cached clone's
    * currentDatabase is set once at creation and never mutated afterward,
    * so concurrent requests can share it safely. */
  private val maxSessions = 64
  // access-ordered LRU, bounded: the database half of the key is
  // client-controlled, so an unbounded map is an unauthenticated
  // memory-growth vector. An evicted session is simply re-cloned on the
  // next request: its database persists in the shared catalog, its
  // prepared statements, views and macros end with it.
  private val sessions = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, String), SparkSession](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), SparkSession]): Boolean =
        size() > maxSessions
    })

  /** Session for a request. Anonymous requests share the base session (the
    * reference shares one `:memory:` connection for them, `main.py:77,93` —
    * and the fixture temp views are session-scoped, so sharing is also what
    * makes them visible). Authed tenants get a cloned session pinned to
    * their database, so concurrent tenants never race on currentDatabase.
    *
    * A `database` request param must never mutate the shared session's
    * currentDatabase (it would silently re-point every other concurrent
    * anonymous query — the reference instead prepends per-query ATTACH/USE
    * on a per-tenant connection, `main.py:283-284`), so any request carrying
    * one gets its own cached clone too, with the fixture views
    * re-registered so the anonymous surface stays visible. */
  def sessionFor(auth: Option[(String, String)],
      database: Option[String] = None): SparkSession = {
    val db = tenantDatabase(auth)
    if (db == "default" && database.isEmpty) return spark
    val clean = database.map(_.replaceAll("[^\\w]", "")).getOrElse("")
    sessions.synchronized {
      val cached = sessions.get((db, clean))
      if (cached != null) return cached
      val s = spark.newSession()
      if (db == "default")
        spark.conf.getOption("graft.registered.dir")
          .foreach(d => graft.engine.Engine.registerTables(s, d))
      else {
        s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
        s.catalog.setCurrentDatabase(db)
      }
      if (clean.nonEmpty) {
        s.sql(s"CREATE DATABASE IF NOT EXISTS `$clean`")
        s.catalog.setCurrentDatabase(clean)
      }
      // the CREATEs above bypass Engine.sql — invalidate the cached
      // information_schema snapshot or catalog listings stay stale forever
      graft.engine.Engine.bumpCatalogVersion()
      sessions.put((db, clean), s)
      s
    }
  }

  /** Parse `Authorization: Basic ...` / `Bearer user:pass` headers
    * (reference strips Bearer and splits on ':', `main.py:468,529-534`). */
  def parseAuthHeader(header: Option[String]): Option[(String, String)] =
    header.flatMap { h =>
      val cred =
        if (h.startsWith("Basic ")) new String(
          java.util.Base64.getDecoder.decode(h.stripPrefix("Basic ")), "UTF-8")
        else h.stripPrefix("Bearer ").trim
      cred.split(":", 2) match {
        case Array(u, p) if u.nonEmpty => Some((u, p))
        case _ => None
      }
    }
}
