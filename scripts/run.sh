#!/bin/bash
# Run a graft main against the compiled classes + Spark jars.
#
# Heap flags: pinned heap (-Xms=-Xmx) + AlwaysPreTouch + ParallelGC.
# Measured on this box: the default adaptively-sized G1 heap turns the
# transcode's allocation churn into a 60%+ SYSTEM-CPU storm (page-fault /
# uncommit traffic visible in /proc/stat while the box is otherwise idle);
# pre-touched fixed heaps with the throughput collector keep the kernel out
# of the hot loop — the right configuration for a batch analytics engine.
#
# FS flags: fork-free local filesystem (graft.fs.FastLocalFs scaladoc) —
# without libhadoop the stock local FS forks /bin/chmod per created file
# (~10-12ms each from a multi-GB JVM; measured r20: 500 creates 5.3s vs
# 0.2s), paid by every checkpoint-log/state/parquet write.
MAIN=$1; shift
MEM=${SPARK_DRIVER_MEM:-8g}
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Duser.language=en -Duser.country=US \
  -Dspark.hadoop.fs.file.impl=graft.fs.FastLocalFileSystem \
  -Dspark.hadoop.fs.AbstractFileSystem.file.impl=graft.fs.FastLocalFs \
  -Xms$MEM -Xmx$MEM -XX:+AlwaysPreTouch -XX:+UseParallelGC \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
