package graft

/** JVM twins of [[graft.ext.Curation.shuffleKey]]/[[graft.ext.Curation.hashU32]]:
  * the reference the specs compare the column forms' draws against. */
object HashTwins {
  def shuffleKeyJvm(seed: String, id: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed#$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def hashU32Jvm(seed: String, id: String): Long =
    java.lang.Long.parseLong(shuffleKeyJvm(seed, id).substring(0, 8), 16)
}
