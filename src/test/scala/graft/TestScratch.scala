package graft

import java.nio.file.{Files, Path, Paths}

/** Fixture directories for the specs, allocated inside this JVM's disk
  * scratch ([[Fs.scratch]]) so the JVM's scratch release removes every
  * one a spec leaves behind.
  */
object TestScratch {
  /** A fresh, empty directory whose name starts with `prefix`. */
  def dir(prefix: String): Path =
    Files.createTempDirectory(
      Files.createDirectories(Paths.get(Fs.scratch("spec"))), prefix)
}
