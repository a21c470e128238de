package graft

/** JVM system-property gates (`-Dgraft.*`). */
private[graft] object Props {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** A long-valued system property; a malformed value logs a warning and
    * yields `default`, so bad config never crashes the operator.
    */
  def long(name: String, default: Long): Long =
    sys.props.get(name).fold(default) { v =>
      v.toLongOption.getOrElse {
        log.warn(s"ignoring malformed $name=$v; using the default $default")
        default
      }
    }
}
