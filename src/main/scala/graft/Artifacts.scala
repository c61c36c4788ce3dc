package graft

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session's reusable artifacts, one registry for all of them:
  * on-disk LAYOUTS (the shingle and token indexes, the graph edge
  * lists, the basket index, the bucketed join tables, staged gzip
  * inputs, the pipeline geo cache) and bounded driver STATE (trained
  * centroids and codebooks, BPE merges, parquet schemas, skew
  * verdicts). Build once, scan many times.
  *
  * '''Identity.''' Every key is built here, from (session UUID, kind,
  * corpus, dials) — nothing else makes a key. A corpus is a
  * `DataFrame`, digested with [[planDigest]], or a fixture directory.
  * Because a key names only an input corpus and its dials, the
  * registry can hold a layout derived from an input but never a
  * query's result. The session UUID comes first because sessions in
  * one JVM share the catalog: a layout's table names are the md5 of
  * its key, and without the UUID two sessions would name the same
  * table and one session's [[clear]] would drop the other's. So names
  * differ between sessions and between runs by design. The digest of
  * the corpus does not differ between sessions in one JVM; it may
  * between JVMs, since `semanticHash` folds object identity hashes.
  *
  * '''Lifetime.''' An artifact lives until [[clear]] or JVM exit:
  * every dir comes from [[tempDir]] and dies with the JVM (one
  * shutdown hook), and [[clear]] drops the catalog tables, deletes the
  * dirs and forgets the state mid-session.
  *
  * '''Staleness.''' A key sees a file corpus by its paths, not its
  * bytes: rewriting the files behind an unchanged path mid-session
  * serves the old artifact — exactly as stale as any persisted index
  * over a mutated corpus. Harnesses that regenerate data in-session
  * must call [[clear]] after the rewrite; normal sessions never need
  * to.
  *
  * '''Concurrency.''' Each key is built exactly once, on the first
  * caller's thread, outside any lock: concurrent callers of the same
  * key wait for that build, other keys build in parallel, and a build
  * may itself request other artifacts (a layout build that calls
  * `Tables.load`). A build that throws is not recorded; its waiters
  * see the same exception and the next call builds again.
  */
object Artifacts {

  /** An on-disk layout: its scratch dir, plus catalog names derived
    * from the md5 of its key (content-addressed, so two live keys can
    * never overwrite each other's table).
    */
  final class Layout private[Artifacts] (val dir: String, digest: String) {
    private[Artifacts] val tables = ConcurrentHashMap.newKeySet[String]()

    /** The catalog name of this layout's `part` table. */
    def name(part: String): String = {
      val n = s"graft_${part}_$digest"
      tables.add(n)
      n
    }
  }

  private final class Entry(val kind: String) {
    val value = new CompletableFuture[Any]()
  }

  private val entries = new ConcurrentHashMap[String, Entry]()

  /** An on-disk layout, built once per key by `build`, which writes
    * under `layout.dir` and names its catalog tables with
    * `layout.name`. A build that throws leaves no dir or table behind.
    */
  def table(spark: SparkSession, kind: String, corpus: Any, dials: Any*)(
      build: Layout => Unit): Layout =
    memo(spark, kind, corpus, dials) { key =>
      val layout = new Layout(tempDir(s"graft-$kind-"),
        org.apache.commons.codec.digest.DigestUtils.md5Hex(key))
      try build(layout)
      catch { case t: Throwable => drop(spark, layout); throw t }
      layout
    }

  /** A bounded driver value, built once per key by `build`. */
  def state[T](spark: SparkSession, kind: String, corpus: Any, dials: Any*)(
      build: => T): T =
    memo(spark, kind, corpus, dials)(_ => build)

  /** Number of live artifacts of `kind` (builds since the last [[clear]]). */
  def count(kind: String): Int =
    entries.values.stream.filter(_.kind == kind).count.toInt

  /** Drop every catalog table, delete every dir, forget every value. */
  def clear(spark: SparkSession): Unit =
    entries.forEach { (key, e) =>
      if (entries.remove(key, e)) e.value.thenAccept {
        case layout: Layout => drop(spark, layout)
        case _ => ()
      }
    }

  private def memo[T](spark: SparkSession, kind: String, corpus: Any,
      dials: Seq[Any])(build: String => T): T = {
    val key = (Seq(org.apache.spark.sql.GraftBridge.sessionUUID(spark), kind) ++
      (corpus +: dials).map {
        case ds: org.apache.spark.sql.Dataset[_] => planDigest(ds.toDF())
        case other => String.valueOf(other)
      }).mkString("|")
    val mine = new Entry(kind)
    val entry = Option(entries.putIfAbsent(key, mine)).getOrElse(mine)
    if (entry eq mine) {
      try mine.value.complete(build(key))
      catch {
        case t: Throwable =>
          entries.remove(key, mine)
          mine.value.completeExceptionally(t)
          throw t
      }
    }
    try entry.value.join().asInstanceOf[T]
    catch { case e: CompletionException => throw e.getCause }
  }

  private def drop(spark: SparkSession, layout: Layout): Unit = {
    layout.tables.forEach(t => spark.sql(s"DROP TABLE IF EXISTS $t"): Unit)
    delete(layout.dir)
  }

  private val dirs = ConcurrentHashMap.newKeySet[String]()

  // registered once, on first use; deleting on exit (not eagerly)
  // keeps artifacts alive for the whole session
  private lazy val hookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      dirs.forEach(d => deleteRecursively(new java.io.File(d)))
    }, "graft-scratch-cleanup"))
    true
  }

  /** A temp dir that dies with the JVM. */
  def tempDir(prefix: String): String = {
    require(hookInstalled)
    val d = java.nio.file.Files.createTempDirectory(prefix)
      .toFile.getAbsolutePath
    dirs.add(d)
    d
  }

  private def delete(path: String): Unit = {
    dirs.remove(path)
    deleteRecursively(new java.io.File(path))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Collision-resistant identity of a DataFrame's logical plan for
    * artifact keys — md5 of the canonicalized analyzed plan.
    * Canonicalization normalizes expr ids / aliases exactly like
    * `semanticHash` does, so plan-object reuse across queries still
    * hits; 128 bits, where the 32-bit `semanticHash` alone left a
    * silent wrong-artifact class (a KEY collision is invisible: the
    * first build answers for both corpora).
    *
    * The tree STRING alone is not an identity: a `LocalRelation`'s
    * simpleString prints only its schema, so two in-memory corpora
    * with identical schemas would print identically. The digest
    * therefore also folds in every data-bearing leaf: the rows of each
    * LocalRelation and the RDD id of each LogicalRDD (conservative —
    * same data via different checkpoints keys apart, which only costs
    * a rebuild, never serves wrong state). A canonicalized parquet
    * scan prints only `Relation [cols] parquet`, no path, so every
    * file/table scan leaf folds its physical identity in explicitly:
    * the file index's root paths for v1 relations, the table name for
    * DSv2.
    *
    * Two more folds close residual aliasing classes:
    *   - the plan's `semanticHash()` — Catalyst's own 32-bit identity,
    *     which sees structure the rendered string may normalize away;
    *   - each node's FULL output attribute list — `toString` truncates
    *     attribute lists at `spark.sql.debug.maxToStringFields`
    *     (default 25), so plans differing only past a wide relation's
    *     25th field would otherwise collide.
    */
  def planDigest(df: DataFrame): String = {
    val analyzed = df.queryExecution.analyzed
    val canon = analyzed.canonicalized
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(canon.toString.getBytes("UTF-8"))
    md.update(analyzed.semanticHash().toString.getBytes("UTF-8"))
    canon.foreach { node =>
      // untruncated schema of every node (canonicalized exprIds are
      // normalized, so plan-object reuse still digests identically)
      node.output.foreach(a =>
        md.update(s"${a.name}:${a.dataType.catalogString}|".getBytes("UTF-8")))
      node match {
        case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          lr.data.foreach(r => md.update(r.toString.getBytes("UTF-8")))
        case rdd: org.apache.spark.sql.execution.LogicalRDD =>
          md.update(rdd.rdd.id.toString.getBytes("UTF-8"))
        case rel: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          rel.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths
                .foreach(p => md.update(p.toString.getBytes("UTF-8")))
            case other =>
              md.update(other.toString.getBytes("UTF-8"))
          }
          rel.catalogTable.foreach(t =>
            md.update(t.identifier.unquotedString.getBytes("UTF-8")))
        case v2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          md.update(v2.table.name.getBytes("UTF-8"))
        case hive: org.apache.spark.sql.catalyst.catalog.HiveTableRelation =>
          md.update(hive.tableMeta.identifier.unquotedString.getBytes("UTF-8"))
        case _ => ()
      }
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
