package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.sources.LakeSinkFiles

/** Test-side edits of a lake table's version records. */
object LakeRecords {

  /** Strip the named per-file fact fields (`counts`, `stats`, `sorted`)
    * from the LATEST version record of the lake table at `path` — the
    * shape of a record written before the lake recorded those facts.
    * Readers must then scan the record's files, never guess. */
  def stripFacts(path: String, fields: String*): Unit = {
    val v = LakeSinkFiles.listVersions(path).last
    val p = LakeSinkFiles.versionsDir(path).resolve(LakeSinkFiles.versionName(v))
    val json = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    // a field is ,"name":"<escaped value>" — skip escaped characters
    val stripped = fields.foldLeft(json) { (j, f) =>
      j.replaceAll(",\"" + f + "\":\"(?:[^\"\\\\]|\\\\.)*\"", "")
    }
    Files.write(p, stripped.getBytes(StandardCharsets.UTF_8))
  }
}
