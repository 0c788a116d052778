package graft

/** [[IndexLifecycleContract]] on the local POSIX binding. */
class PosixIndexLifecycleSpec extends IndexLifecycleContract {
  protected val binding: StorageBinding = PosixBinding
}
