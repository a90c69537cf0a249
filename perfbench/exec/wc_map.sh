#!/bin/sh
# Hadoop-Streaming wordcount mapper: every space or tab ends a token, so
# runs of separators (and leading or trailing ones) yield empty tokens,
# which are kept. Tokens are lowercased (ASCII only, byte-wise under the
# C locale) and emitted one per line as "token<TAB>1".
LC_ALL=C
export LC_ALL
tr ' \t' '\n\n' | tr 'A-Z' 'a-z' | awk '{ print $0 "\t1" }'
