#!/bin/bash
# Packaged-jar runtime smoke (VERDICT r9 #5) + crash-recovery leg
# (VERDICT r10 #7): ServePackagingSpec gates the Dockerfile/
# entrypoint on STRUCTURE only — this script proves the artifact
# path live without a docker daemon:
#   sbt package -> launch graft.Serve FROM THE PACKAGED JAR (java -cp
#   jar:/opt/spark/jars/*, the same classpath contract the
#   Dockerfile's runtime stage encodes) -> POST one webhook track
#   point -> assert the CoT feature lands in the submit dir ->
#   burst-POST, kill -9 the JVM mid-batch, RELAUNCH from the same
#   spool/checkpoint/state dirs -> assert liveness after restart and
#   the at-most-once contract: no msg_key ever appears twice in the
#   submit parquet, even when the restarted stream replays spool
#   files whose batch never committed (the StateFirst guard of
#   processed keys, which the relaunched query reads from the state
#   log, is what guards the replay — SinkOrderingSpec proves it
#   in-process; this proves it across a process death on the shipped
#   classpath). Fails (exit 1) if the jar's entry class, classpath
#   contract, the webhook->transform->sink path, or the crash
#   ordering breaks.
set -euo pipefail
cd "$(dirname "$0")/.."

WORK="$(mktemp -d /tmp/jar_smoke.XXXXXX)"
# SERVE_PID must exist before the trap can reference it under set -u:
# a phase-1 failure (sbt package) would otherwise error INSIDE the
# trap and leak $WORK (ADVICE r10)
SERVE_PID=""
trap 'kill -9 ${SERVE_PID:-} 2>/dev/null || true; rm -rf "$WORK"' EXIT

echo "[1/6] sbt package"
sbt -batch package > "$WORK/package.log" 2>&1 || {
  tail -20 "$WORK/package.log"; echo "package FAILED"; exit 1; }
JAR=$(ls target/scala-2.13/*.jar | grep -v -- '-tests\.jar' | head -1)
[[ -n "$JAR" ]] || { echo "no main jar under target/scala-2.13"; exit 1; }
echo "      jar: $JAR"

mkdir -p "$WORK"/{spool,ckpt,submit,state}

# the Dockerfile runtime contract: app jar + /opt/spark/jars on the
# classpath, entry class graft.Serve, positional dirs; no
# GRAFT_HTTP_PORT -> loopback + ephemeral port (read from the ready
# line), exactly the local/test default documented in Serve.scala
launch_serve() { # $1 = log file name under $WORK
  java \
    --add-opens=java.base/java.lang=ALL-UNNAMED \
    --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
    --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
    --add-opens=java.base/java.io=ALL-UNNAMED \
    --add-opens=java.base/java.net=ALL-UNNAMED \
    --add-opens=java.base/java.nio=ALL-UNNAMED \
    --add-opens=java.base/java.util=ALL-UNNAMED \
    --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
    --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
    --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
    --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
    --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
    --add-opens=java.base/sun.security.action=ALL-UNNAMED \
    --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
    -Dspark.master='local[4]' \
    -Dspark.sql.session.timeZone=UTC \
    -Dspark.sql.extensions=graft.GraftExtensions \
    -Dspark.ui.enabled=false \
    -cp "$JAR:/opt/spark/jars/*" graft.Serve \
    "$WORK/spool" "$WORK/ckpt" "$WORK/submit" "$WORK/state" \
    > "$WORK/$1" 2>&1 &
  SERVE_PID=$!
}

wait_ready() { # $1 = log file name; sets PORT
  PORT=""
  for _ in $(seq 1 120); do
    if ! kill -0 "$SERVE_PID" 2>/dev/null; then
      tail -30 "$WORK/$1"; echo "Serve died before ready"; exit 1
    fi
    PORT=$(grep -o '"serve":"ready","port":[0-9]*' "$WORK/$1" \
      | grep -o '[0-9]*$' || true)
    [[ -n "$PORT" ]] && return 0
    sleep 1
  done
  tail -30 "$WORK/$1"; echo "no ready line after 120s"; exit 1
}

post_point() { # $1 = entityId, $2 = epoch millis; echoes http code
  curl -s -o "$WORK/resp" -w '%{http_code}' \
    -X POST "http://127.0.0.1:$PORT/hook1" \
    -H 'Content-Type: application/json' \
    -d "{\"entityId\": $1, \"name\": \"n$1\", \"alias\": \"a$1\", \"deviceType\": \"inReach\", \"deviceId\": $1, \"trackPoint\": {\"time\": $2, \"isEmergency\": false, \"direction\": 90.5, \"point\": {\"x\": 1.5, \"y\": 2.5}}}"
}

echo "[2/6] launch graft.Serve from the packaged jar"
launch_serve serve.log
wait_ready serve.log
echo "      ready on port $PORT"

echo "[3/6] POST a track point (+ invalid-body 400 gate)"
HTTP=$(post_point 42 1704844800000)
[[ "$HTTP" == "200" ]] || { cat "$WORK/resp";
  echo "webhook POST returned $HTTP, want 200"; exit 1; }
# invalid body must 400 (the TypeBox-gate analogue), proving the
# validator is live in the packaged build too
HTTP=$(curl -s -o /dev/null -w '%{http_code}' \
  -X POST "http://127.0.0.1:$PORT/hook1" \
  -H 'Content-Type: application/json' -d '{"nope":1}')
[[ "$HTTP" == "400" ]] || { echo "invalid body returned $HTTP, want 400"; exit 1; }

echo "[4/6] wait for the CoT row in the submit parquet"
# the sink writes parquet; poll with pyarrow (driver-side stack) for
# the transformed row: id inreach-42 (T2 computed key), msg_key
# id@ISO-time (T5 epoch->ISO), CoT course carried through
FOUND=""
for _ in $(seq 1 90); do
  if python3 - "$WORK/submit" <<'EOF' 2>/dev/null; then FOUND=1; break; fi
import sys, glob
import pyarrow.parquet as pq
files = glob.glob(sys.argv[1] + "/*.parquet")
assert files, "no parquet yet"
t = pq.read_table(sys.argv[1])
rows = t.to_pylist()
assert any(r.get("id") == "inreach-42" and
           "42@2024-01-10T00:00:00" in str(r.get("msg_key", ""))
           for r in rows), f"no transformed row yet: {rows[:2]}"
EOF
  sleep 1
done
[[ -n "$FOUND" ]] || { ls -laR "$WORK/submit"; tail -30 "$WORK/serve.log";
  echo "no transformed CoT row in submit dir after 90s"; exit 1; }

echo "[5/6] crash leg: burst-POST 20 points, kill -9 mid-batch, relaunch"
for i in $(seq 100 119); do
  post_point "$i" $((1704844800000 + i * 1000)) > /dev/null
done
# a short beat so the micro-batch is IN FLIGHT (spool files picked
# up, writes possibly half-done, checkpoint possibly uncommitted)
# when the process dies — the replay-with-partial-submit window the
# state-log guard exists for
sleep 1
kill -9 "$SERVE_PID"
wait "$SERVE_PID" 2>/dev/null || true
echo "      killed pid $SERVE_PID; relaunching from the same dirs"
launch_serve serve2.log
wait_ready serve2.log
echo "      relaunched on port $PORT"
HTTP=$(post_point 200 1704844900000)
[[ "$HTTP" == "200" ]] || { echo "post-restart POST returned $HTTP"; exit 1; }

echo "[6/6] assert liveness after restart + at-most-once per msg_key"
OK=""
for _ in $(seq 1 90); do
  if python3 - "$WORK/submit" <<'EOF'; then OK=1; break; fi
import sys, glob
import pyarrow.parquet as pq
from collections import Counter
files = glob.glob(sys.argv[1] + "/*.parquet")
assert files, "no parquet yet"
rows = pq.read_table(sys.argv[1]).to_pylist()
keys = [r["msg_key"] for r in rows]
# liveness: the post-restart point flowed through the relaunched
# pipeline (same checkpoint, same state log)
assert any(r["id"] == "inreach-200" for r in rows), "point 200 not landed yet"
# the at-most-once contract: across the crash, the replay, and the
# restart, NO message identity is ever submitted twice (duplicates
# here = the processed-log guard failed across a process death);
# burst points may be individually LOST (StateFirst crash between
# the two writes loses, never duplicates) — that is the contract
dup = [k for k, c in Counter(keys).items() if c > 1]
assert not dup, f"DUPLICATE msg_keys after crash+restart: {dup[:5]}"
assert sum(1 for r in rows if r["id"] == "inreach-42") == 1
survived = sum(1 for r in rows if r["id"].startswith("inreach-1")
               and r["id"] != "inreach-200")
print(f"      burst survivors: {survived}/20 (losses allowed, dupes never)")
EOF
  sleep 1
done
[[ -n "$OK" ]] || { tail -30 "$WORK/serve2.log";
  echo "restart leg failed: no point-200 row or duplicate msg_keys"; exit 1; }

kill "$SERVE_PID"; wait "$SERVE_PID" 2>/dev/null || true
echo "SMOKE PASSED: packaged jar serves webhook -> CoT -> submit sink, and at-most-once holds across kill -9 + relaunch"
