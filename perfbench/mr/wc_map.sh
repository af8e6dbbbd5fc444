#!/usr/bin/env bash
# Word-count mapper, Hadoop-Streaming contract: every space or tab
# starts a new token (so consecutive separators give the empty key),
# tokens are lower-cased, one "word TAB 1" line per token.
set -euo pipefail
export LC_ALL=C
tr '[ \t]' '\n' | tr '[:upper:]' '[:lower:]' | awk '{print $1"\t1"}'
