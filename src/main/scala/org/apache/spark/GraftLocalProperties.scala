package org.apache.spark

import org.apache.spark.util.Utils

/** Bridge into SparkContext's `private[spark]` local-property accessors:
  * the job group, streaming batch id, scheduler pool and SQL execution
  * ids a thread's jobs carry. A pool thread inherits these from the
  * thread that created it, not from the thread that submits work to it.
  */
object GraftLocalProperties {

  /** Captures the calling thread's local properties. The returned runner
    * runs a body, on any thread, under its own copy of them (a body's
    * SQL execution sets its id there, so concurrent bodies cannot share
    * one), then restores that thread's own. With no active context it
    * runs the body as is.
    */
  def capture(): (() => Unit) => Unit =
    SparkContext.getActive.fold[(() => Unit) => Unit](_.apply()) { sc =>
      val caller = Utils.cloneProperties(sc.getLocalProperties)
      body => {
        val own = sc.getLocalProperties
        sc.setLocalProperties(Utils.cloneProperties(caller))
        try body() finally sc.setLocalProperties(own)
      }
    }
}
