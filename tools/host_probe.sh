#!/bin/sh
# Quick host-health probe: prints CPU-loop seconds.
# Quiet-host reference: cpu ~0.55s.
python3 - <<'EOF'
import time
t0=time.time()
s=0
for i in range(20_000_000): s+=i
print(f"cpu_loop_s {time.time()-t0:.2f}")
EOF
