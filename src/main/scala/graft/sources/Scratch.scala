package graft.sources

import java.nio.file.{Files, Paths}

/** Scratch storage root for operators that stage intermediate files
  * (format roundtrips, snapshot backups, stream landing zones,
  * reconciliation state).
  *
  * On a real cluster a bare `Files.createTempDirectory` path is
  * driver-local — executors on other nodes can't read it — so the root
  * must be a shared filesystem (HDFS/S3/NFS). `SPARK_GRAFT_TMP` makes
  * that contract explicit: point it at a shared path in cluster mode;
  * unset, it falls back to the local java temp dir, which is correct for
  * local[*] and tests.
  */
object Scratch {

  private[graft] def root: String =
    sys.env.get("SPARK_GRAFT_TMP").getOrElse(System.getProperty("java.io.tmpdir"))

  /** A fresh unique scratch directory under the configured root. */
  def dir(prefix: String): String = {
    val base = Paths.get(root)
    Files.createDirectories(base)
    Files.createTempDirectory(base, prefix + "_").toString
  }

  /** A STABLE path under the root (no unique suffix) — for state that
    * must survive across runs, e.g. the incremental-checksum tracker.
    * Caller owns overwrite semantics.
    *
    * Segments are sanitized to never START with '_' or '.': Spark's
    * file index treats such names as hidden metadata (the
    * lake-path-derived suffix `_root_testdata_sf0.1` made every read
    * of such a dir log "All paths were ignored" — reads still worked
    * because explicitly-given roots survive the filter, but the noise
    * hid real warnings and the behavior is listing-mode-dependent).
    */
  def stable(name: String): String = {
    val clean = name.split('/')
      .map(seg => if (seg.startsWith("_") || seg.startsWith(".")) "d" + seg else seg)
      .mkString("/")
    val p = Paths.get(root, clean)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** The [[stable]] directory of registry entry `entry` for lake
    * `lake`: `<entry>/<lake path, every char outside [A-Za-z0-9.] as
    * '_'>`. Prefixing with the entry name keeps entries that run
    * concurrently (Verify's pool) on disjoint stores — entries that
    * share one name share one store and must be chained in
    * Verify.ConflictGroups.
    */
  def perLake(entry: String, lake: String): String =
    stable(entry + "/" + lake.replaceAll("[^A-Za-z0-9.]", "_"))
}
