package graft

package object core {

  /** Delete a file or a directory tree (local filesystem). */
  private[graft] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree)); f.delete(); ()
  }
}
