package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a spec that counts
  * jobs reads its counter only after every event its action caused has
  * been delivered. `waitUntilEmpty` is `private[spark]`, hence this
  * package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
