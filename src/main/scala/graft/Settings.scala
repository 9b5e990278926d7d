package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.dsl.Json

/** Persisted CLI configuration (reference: settings.py's config.ini +
  * the `config` verb, cli.py:41-64): a JSON file in the user directory
  * holding the store root and export-directory defaults, so repeated CLI
  * invocations don't need them re-typed. Environment override
  * GRAFT_USER_DIR relocates the whole user dir (tests use this). */
object Settings {

  def userDir: String =
    sys.env.getOrElse("GRAFT_USER_DIR", sys.props("user.home") + "/.graft")

  private def configPath = Paths.get(userDir, "config.json")

  /** Current settings; absent file -> empty map. */
  def load(): Map[String, String] =
    if (!Files.exists(configPath)) Map.empty
    else Json.parse(
        new String(Files.readAllBytes(configPath), UTF_8)) match {
      case m: Map[_, _] => m.collect { case (k: String, v: String) => k -> v }
      case _ => Map.empty
    }

  /** Merge-update the persisted settings (None keeps the current value). */
  def set(root: Option[String] = None, exportDir: Option[String] = None): Unit = {
    val merged = load() ++
      root.map("root" -> _).toMap ++ exportDir.map("export_dir" -> _).toMap
    Files.createDirectories(configPath.getParent)
    val body = merged.toSeq.sorted
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }
      .mkString("{", ", ", "}")
    Files.write(configPath, body.getBytes(UTF_8)): Unit
  }

  /** The resolved store root: persisted setting, else a default under the
    * user dir (the reference defaults DB_PATH under USER_DIR). */
  def defaultRoot: String = load().getOrElse("root", userDir + "/store")
  def defaultExportDir: String = load().getOrElse("export_dir", userDir + "/exports")

  def showCurrent(): String =
    s"""User dir:    $userDir
       |Store root:  $defaultRoot
       |Export dir:  $defaultExportDir""".stripMargin
}
