#!/usr/bin/env bash
# Snapshot gate: a snapshot must never be taken with a knowingly red
# suite. Run this before the final snapshot commit;
# exit 0 = safe to snapshot, nonzero = BLOCKED.
#
#   bash scripts/preflight.sh            # pytest + oracle parity gate
#   bash scripts/preflight.sh --fast     # pytest only (~parity already run)
set -u
cd "$(dirname "$0")/.."

echo "== preflight: pytest =="
if ! python -m pytest tests/ -q; then
    echo "BLOCKED: pytest red — do not snapshot; fix or revert first."
    exit 1
fi

if [ "${1:-}" != "--fast" ]; then
    echo "== preflight: oracle parity gate =="
    if ! python scripts/verify_gate.py; then
        echo "BLOCKED: parity gate red — do not snapshot; fix or revert first."
        exit 2
    fi
fi

echo "PREFLIGHT GREEN: safe to snapshot."
