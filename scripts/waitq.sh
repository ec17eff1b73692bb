#!/bin/bash
# Wait until the host is quiet (loadavg_1m below threshold), then exec the
# given command. Usage: waitq.sh [threshold] -- cmd args...
# The box has a bursty co-tenant (CLAUDE.md): loadavg_1m_start < ~1.5 is
# the only usable quiet signal; measurements taken under load are noise.
THRESH=1.5
if [ $# -gt 0 ] && [ "$1" != "--" ]; then
  THRESH="$1"
  shift
fi
[ "$1" = "--" ] && shift
for i in $(seq 1 240); do
  LA=$(cut -d' ' -f1 /proc/loadavg)
  OK=$(awk -v la="$LA" -v th="$THRESH" 'BEGIN{print (la<th)?1:0}')
  if [ "$OK" = "1" ]; then
    echo "waitq: quiet (loadavg=$LA) after ${i} polls" >&2
    exec "$@"
  fi
  sleep 15
done
echo "waitq: never quiet; running anyway (loadavg=$(cut -d' ' -f1 /proc/loadavg))" >&2
exec "$@"
