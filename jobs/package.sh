#!/usr/bin/env bash
# Package the sparkts library for spark-submit --py-files.
set -euo pipefail
cd "$(dirname "$0")/.."
mkdir -p dist
rm -f dist/sparkts.zip
# library only — jobs/ scripts go as the main file, not in the zip
python - <<'EOF'
import os, zipfile
with zipfile.ZipFile("dist/sparkts.zip", "w", zipfile.ZIP_DEFLATED) as z:
    for root, _, files in os.walk("sparkts"):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith((".py", ".c")):  # .c: the native kernels' source
                p = os.path.join(root, f)
                z.write(p, p)
print("wrote dist/sparkts.zip")
EOF
echo "run e.g.:"
echo "  spark-submit --master local[8] --py-files dist/sparkts.zip \\"
echo "      jobs/tier_pipeline.py --input PAGES.parquet --out /tmp/tiers"
