#!/usr/bin/env bash
# Word-count reducer over a key-sorted stream: count adjacent equal
# keys, emit "word TAB count".
set -euo pipefail
export LC_ALL=C
cut -f1 | uniq -c | awk '{print $2"\t"$1}'
