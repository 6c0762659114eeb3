#!/usr/bin/env bash
# One measurement WINDOW of the ann scaling curve (fresh JVM, the
# exact ScalingChild fork graft.Bench uses), with the x30 cell's three
# mining spellings (unsalted / global-salted / selective-salted)
# appended as a data row to ANN_WINDOWS.json — the round-19 verdict's
# ask #4: commit multi-window measurements as DATA, not prose, so a
# narrative can never again quote the most favorable window.
#
# Usage: tools/ann_window.sh [label]        (from the repo root)
# NEVER run while sbt is active (children read target/classes live).
set -euo pipefail
LABEL="${1:-window}"
SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
OUT=$(SPARK_GRAFT_SF_DIR="$SF_DIR" \
  SPARK_GRAFT_SCALING_BUDGET="${SPARK_GRAFT_SCALING_BUDGET:-2400}" \
  java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" -cp "$CP" graft.ScalingChild ann \
  2>/dev/null | grep '^GRAFT_SCALING_FRAGMENT ann ')
FRAG=$(echo "$OUT" | cut -d' ' -f4-)
python3 - "$LABEL" "$FRAG" <<'EOF'
import json, sys
from pathlib import Path
label, frag = sys.argv[1], json.loads(sys.argv[2])
x30 = [p for p in frag if p.get("x") == 30]
if not x30:
    sys.exit("no x30 point in fragment (budget truncated?)")
p = x30[0]
row = {"label": label,
       "unsalted_sec": p["sec"], "salted_sec": p.get("salted_sec"),
       "selective_sec": p.get("selective_sec"), "salts": p.get("salts"),
       "assign_sec": p["assign_sec"], "cand_pairs": p["cand_pairs"],
       "load": p["load"], "steal_pct": p["steal_pct"]}
path = Path("ANN_WINDOWS.json")
doc = json.loads(path.read_text()) if path.exists() else {"windows": []}
doc["windows"].append(row)
path.write_text(json.dumps(doc, indent=1) + "\n")
print("appended:", json.dumps(row))
EOF
