package graft

/** [[IndexLifecycleContract]] and [[LockWindowContract]] through the
  * Hadoop FileSystem binding. */
class HadoopIndexLifecycleSpec
    extends IndexLifecycleContract with LockWindowContract {
  protected val binding: TokenBinding = HadoopBinding

  override protected def titles: Map[String, String] = Map(
    "bootstrap, append, delete, serve, compact — all through the binding" ->
      "bootstrap, append, delete, serve, compact — all through the Hadoop scheme",
    "generation-pointer pair swaps atomically through the binding" ->
      "generation-pointer pair swaps atomically through the scheme")
}
