package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.PqOps
import graft.functions.TextHashing.cosineSim

/** The float ANN family under the DuckDB ORACLE: the trained parameters —
  * coarse IVF centroids, PQ codebook, and the probe vector — are FROZEN as
  * literals (the q92 phash64-literal precedent). They are fixed oracle
  * fixtures, never retrained: cell assignment, PQ encoding, the ADC scan,
  * and the cosine re-rank all replay bit-for-bit in DuckDB and ride the
  * hash gate. These queries gate everything AFTER training — which is also
  * the shape of every production ANN probe: the index parameters are fixed
  * at build time, queries arrive as external vectors. The steps themselves
  * are [[Ann]]'s, under its [[Ann.FloatCodec]].
  *
  * Replay contract with the codegen expressions (PqOps):
  *  - distances accumulate left-to-right in DOUBLE over float-widened
  *    values — the SQL writes the sums as explicit left-associated `+`
  *    chains, never `list_sum`, so the fold order is syntactically pinned;
  *  - argmin tie-breaks to the LOWEST cell (strict `<` in PqEncode) —
  *    `row_number() OVER (... ORDER BY dist, cell) = 1`;
  *  - the ADC score accumulates in FLOAT (PqAdc) — replayed as a nested
  *    `CAST(.. AS FLOAT)` fold; exact because the double sum of two floats
  *    is exact, so rounding it to float IS the float add;
  *  - every float literal interpolates as its exact double-widened value
  *    (`Float.toDouble.toString`), matching the codegen's `(double)` reads.
  *
  * Reference capability: vector similarity probes delegated to the engine
  * (reference: src/catalog/mod.rs:359-361).
  */
object FrozenAnn {

  private val Cells = 16
  private val M = 16
  private val Ksub = 16
  private val Dim = 64
  private val SubDim = Dim / M
  private val Rerank = 50
  private val K = 10
  private val NprobeIvf = 2   // q190, mirrors q51
  private val NprobeIvfPq = 4 // q192, mirrors q72

  // ── frozen parameters: fixed fixtures the oracle SQL is generated from ──
  private val FrozenCoarseB64: String =
    "PwITPWz5xrrSidM8OK2wvFjc77zWOgE9d0fBvd2Gmr2Bqt87tvaFvL7CVbwuliG8m1GzvWdYSDwBu0O98P6iPKcEJz" +
    "3J5BE9J1xyPQLhgzxAVh29A8FqPQzkebvZPmW7YCS5u2xBjL3eVoo8n+nYuy4AYjtNnqW80PTbPC2dDD2twci8jgbX" +
    "vKSIB7zfQUS9B2ENPPiTPTxy3QO6HzHQvO3NJrv9IbU8iGfBvKFiPjwQS6i82FAJPfXQTjyLf1k9mWQnvTlsFTzVcm" +
    "Q7PM9BvXnDhj1sbO28cWhrPVcuCbzt9Fq9Prq6PP1tJj3v3Fc9zTEgvYKHJD1zj8Q9wbKpOw3TRjzAsSS9U5y/u+7D" +
    "tL1pZkM9dRofvHt0srzAnGg86KtwPVwUV7yhTHK9VCjCPVtwTL3PZqm8Q6WNO4ATLT3YDoi8fq9uPCMVoL2LRiq8wZ" +
    "SAPdt+CT3XaQU91gWhvO1qFj3sl608bslkulWgMrs9mZs7V2THvKqqrrwh4ec8BMYuuxKq2Dw++ui7Z77ePVsfET3e" +
    "xjM9uWkiPfpTm7xTJlW9WCp2u2rqIzws2i89cKbwvaQBxzyGpJA9vrQOPTgPFz15ch69VssOPETKB70E7we9QZOiPQ" +
    "gTKD22lwC9414Dvc9YoLxMISQ8kuGSvZ3k1bx9Hdi8zz0KvUubPj2d3K+9QrEmPTflzTwJNeY8DdlhulnYmrtC3zE8" +
    "MliCu+mR7rxCf588QJa5vEpscTxUTQM8GbIuvQtosTtog7S6EQC6PbT1nLxvejM9RSM+PScAQj1llc27za7jvO9ynL" +
    "wz63g9PKWAvNuj9DtexCM8qXBNO/E+nb3YzI69PknAPLq9SjxXRhC88JLevH5jtDwzoRQ77mWEvdoGyjxAp0y9W5yj" +
    "PTSCSztVXSc9ID7MvA8M+LvG0Bm9RQd/PBn90jvpE+y86so4vcTY2bwzfnU9OwaBPB+TdDuxYb48f2+oPAIJOT3W74" +
    "U99vkpvVtvtLy0oQa9gF8nPcF7H71jD+48OuriPRPQcrxzxag965YLPBbZNTwiPxa91r6rPOyTwj1Qn6+7Heb1PBgg" +
    "Oz2HNka9+1P+Oy7JEz3g/L48HcakPFicprzIttU8aZPdvHVTg7x5H1q9gxdSvCoFAD11Ck45Hqk8vZpr6rvIW9W7sV" +
    "0iPRtjPrwmDH67OBsoPY7FEL2aRjm9o4MqvcTQpT2KTEg9CMXQvSPdiL2ext09/J4dvX/jvLz1rU08Zm+xvHKXGb38" +
    "m+E75rEwvazR4byciSw91+53vKtc+TvX7dk8AhnIvLkREj1mRRs9MrxuPZDxR722UTI8bLvvvNkJv7y90uC7aHlzvT" +
    "C1vDwcrSW83IhGPdIvAD1Not87+zcPPaT1Bzw+i+i5z7i0vDcoqbzWJKI6HoUNPNMXjr1v6oC8ou0fu4neCzzOCvE8" +
    "yt5uvCWEnT3hY3S9WxnvvIZJsb2eDa48F9GIPGw3OLwYZiu9/tEcPU99Ab0JX/I8Q5U0vT15Z7zuQW88RVzBOtSX5L" +
    "pUeJq9PAHWvDu/07xAZ6O8zCo1vBTNNjs7CAM91b4evZIaFbrJesU8LE1IvWdamzyVpS09Y4kXPAAhoz30E+I86CW/" +
    "vPjIED2gzgo9h4iSPWoTmDqRChc9rN+nvOQK9rwbTOo8+qoZPWnSmry8FBk8vcNIPSilkrxkl5S9w4euPI/apLwCPw" +
    "W9GXKuvHx85jwxtji7XZRVPRBJ67zt/HU9NJwzPfJ01jw0fmC9XyFKPRwSlr0An+o7DrAnPHePX716ljk62Rwxu3VI" +
    "vz0ndg89JzT5OrXpNDzo2/q8wENCPT4eAr4KPpG9DvkKvc5l5bt5OIA86uXZvKwZjDwQ4BC7fJdLvVflXD3AxG89Cw" +
    "KxPBF45DsP+Q49MhRsPdrQ7jvD2og9VbaOvDNj67xBL3Q8CPl3PP+rY7wMgYG8MzEJPcZVMr2Zd8G8SbTjvGCFw7wL" +
    "ymU9hGTTvBfYWzuqM4E9mb2JvfWJzDuw9ie976CdvJ8D5Truhvy7CULxu1boQL0DqLG8okmMu5wwFL3PrN88fNy1uz" +
    "SfRL2WPMI8ZcqUOl3u+zzYn0q9ddqrPI+8kbuuDrw9+BdVPEt7ZD1qwok9xF1AveEjvLyUPIu9FHiDvGZCNrwDepu9" +
    "AT2KPL+wJ726s6I8R8zTPLMBUbu3Un49LWZRva9jJL2NZDo90P8tPQM4lLvlIsq8/C2yukEJDL3kc9U7bYphvfW2qD" +
    "zInye951BAu9VrBT0S8oi8HVt7vcv+Crt8xp69IFUGva1a3rxVsZc79Iy2vGzYDb2tyEU9xKMrPcvmTbrMZDY9TIBm" +
    "u9LVAT0PGbm8dxh+vDqRmroRY4s8rtKdu10oDb0SNCq8VgScvQ0zqD1OtHG9cftDPdDQoLxAhk+9K4xuvXubmLy8Cg" +
    "A9Cnr3vGoFzL3Pzj28mT5kvfssTj2ilm+9lFosvcnwLD31MKe92cxavE7ojjzuJYg9EjVLvUXfgTzIuZo5dJJyvOVF" +
    "Dz0bNjw99tsVPaP0WDwBbQg982FCPTkvsrzcrYQ9+oAKPfImDTzwemW7aMmnPAkk+Llqd1O9uF6BPEprjrsBpR89Gm" +
    "l8vaYQtrlZgjC7I0sZvDmPFz1z6E29aeVYvAIupzzHuT89hDfFPKMy3LzMxbo8/JKVvCmBMD0qBgu8xZYrPdT9dDzL" +
    "fEa9WyLavbgqjz1SZDK7BDiBvINZiz3ZzIW861sPvaa5Rzu2oaG8T/Q4Pa4siT3byHW8YwLUO6m7WrzUEU67/qdJPZ" +
    "pLOT2l6VY9rPngvDTmhD3APeS7WD5wPKNMDD1qLTM9D8OKvYWAprwNIa88fQZlvf1B7bwRq0Y803faPZYz57tL/gE9" +
    "fjkdvTqt172BCD49n4BFvat8RD1hKHo8aS/yvCN7vzcMRcS8dGBYO+uNrrt6Y8Y8OLKQPEz3Xbs24je9dYVYvboKHD" +
    "3DyT29/TiDO0L2G7xokeC868WUvZbeCr15aP67k6L1vFGfUL3eOQc9OPbrO0SBkL1hZoM8efALPXdnub1fyVs9BMOh" +
    "PL0oqrwziIO8QkFcvHfvjT3kypy8Hz0WPf5M/Dyzikk96faiPfm/irw+aoC8o+GNPSUzFjxLZaQ81wHGvSuOcjxDFK" +
    "I8xhZEvRBFkLw4Y2c8YjciPCQ6PL3dGUq9JldBPQ0iqryRgIg87g/yO7BufT0KAes8rSl4OVAywrv16AA9jxe3u5dD" +
    "Gz0rLgo9g1aGvS5bG7snjF68Mw7LPNoOyzu0hFe8cOSpPXFLWL3zwTG9y4uSu3OtRT3prec8nXOaPOrFWT3M+YA9el" +
    "xqvBNELj1IgKc9YcpkvAda5Tw6BG27DuJQPIRavjoqh3c9dxCTPEZJar1Auu08etNiPZgwQL1Rz0e8Bt9HvdvdNj0T" +
    "8GU9ugmNPfkBjrt5poi82I6aO/fRN73+/Zy8nCMcvKp2tD0JJVM9QUxwPENwVz081BQ9zsmhvMz41z2y6/G8/2bjPF" +
    "NMH725QAQ9HKksPHJflzseHxc8X661PDi7FbxRgRy9Q409vTLJkD3qnCQ9nkInPVU1bT2rn4G8IDGUvPQC/TuB2IC8" +
    "Y2MzPSu0hzw/Mfe8voEPulmfvjthaJi85unsvMOnMj1ga7e9YYl0POj9DT0rKAE8oq10PZJEFj3Mj/U8XqHQvItODL" +
    "0Bg/Y8uMv+O3Fr4rtYkUI9f1W9OzkKwLszCsK9Mq+EvflaXT0YS2Q8+t6bPJyB1b1erSy9VtJZvAydMb3zjuY8/GhZ" +
    "PZ3rg7oJnr29GoiRPBvkcTyWDKA8ghY0PHGa7btDpMw8sF4YPTkvdL2ANpO8Oz4OPCzqgjzn5nK88UzpvJXPtjquZb" +
    "o80VVPvGmKFDwGvj+8+89wvOjoMz2JoDW9le2nvAEEmzt4Yw47XmpfO/Njqz3i3p68OHl4PUj2qz0eGaQ81+xRvWbH" +
    "pjwYS4282mPVPEzrXDupYri9bV3Qu0m2Mbzuq4Y71y9hvGu8nbtOER29oXLfvfq0ZTw1SXO9D5rbPUQgprtjwCa9bB" +
    "mJOe4pCL2ge0y9tg31PSwtML1Uv1k82kSKPQUtMrwNkTu9/CxAPJxtfzv87k69cCROvVapRT1kWmM90g4UvQwC+zxC" +
    "RNq8CriEu21fHDzXdr07r18NvZRVHr16cP44R1MCvRt3fT07xGc83hZ5PIz077qzBZc57QvrvQILhjxtFpO80dosvW" +
    "k60jzTBQE9SPCFPZdn0zys4J49ffPUPMeqZLwE6Mu8ufrGvCPxLD0JSOG8yZFovacQJj3ojgM9kYM+PArMNL2XEz88" +
    "3KNSPVqlSzzLSwW9qEbdO1H4c71wY7G8WEE1PAa1hbxMncW8NKO3vJrTx70ajWi9h6xMPF8ttjw3r+Y8+PiYvLgWjL" +
    "wimhO9LppDOzYDebvz1yU9oZ7vvPqZ/bwc4Oa8z7J1vQaraL3DrDk9CekIPWynjTu0DM29INaKO7oVdr3kDPG8HiCU" +
    "PEg7C7zoFKE9eCqBPMTYMr1qaB49iVJzvTgeQb3osNY8XdfmvDddKT2iwHY9DyQUPb+9mT33gFE6Mr5nvSlEKT1fHq" +
    "Y9dqZavUm0rbz4iqm9SwrPvXu6Q72AKR49tAaxvOMBhTzbjQc9PRKcvXCNgL36LhQ7gryXPBG6Fj1IrQi9FefnOLQz" +
    "wbwIlUq9MW+iO6KwS7zkhj48f33LvIwZjbyazJK8yAjsu20iFr3x49O8wmgkvNgd+bz3Frk8+SkRPQpSAr3zzoE9sG" +
    "PdPLNojLx9hrg8LniGPK8Vjb2npVg9SoOavRLX3zxXCIS9zLyRPTov4DqqbzI9yVcvvfL8uzvGSJC8Ie9KvXJ6O72r" +
    "7u68YDj2udVKy7i6jrQ8Sj1pu/cVpTz0aqs8CxFbPcxA0TzldHi8Pd6BPXfHRb2YXDQ8IyWUvBsMpDtYFxs9zv00PZ" +
    "GPyz2LawQ9DTixPA7bC712fRg62tynvTADHbyeHaS803MKvOyqnLx4GFw9jIkoO8Ze+bnmuQs8m4ICPIYUJLwhJuK7" +
    "6uGmO5GOiz1YPzE9H0Qau4Y/CL0uhGq9QdpivVcyMD1Q/Ak98XGjPMhtdj1dS0a9orkavZkAM70Annm7zYVZvZQYXb" +
    "0EJTW9za4pPBzpIj2wTc+8YFyfvScHxDyC8gY9Cd9UPe0lhz0EqNi8Y4dZPS302LvohtI9z6YbPP8QULsUAty8bfRp" +
    "O80Bi7wFvWo9YXMEu1ZqYD1LIby8DofuOmFUQT1Rbw+9p4KpvJ3LUb0i7c08BJMgveiH8TxFU/U8yxgIuykYLLwRQ9" +
    "S9UcLNu586Bz06d5y954GjurxeVr1zkY675MOCvQueGz22V4u8z0A9uuEXC71dxAy89lkyPQPd67vQLc681EA9PEiy" +
    "0zyPuDY91hT9vaihKzwNOwi8oFC7u14PnLwUQfg75DQZPT8LnT1okdi6GcOLvA=="
  private val FrozenCodebookB64: String =
    "NceMPSihlr2/wh++JsmkvbmMSD2nmAs+OvCYvVhq3r1rC15dawteXWsLXl1rC15d/XWqPTMaazyVOO89cxLbPOi2Mr" +
    "0jUCy+3XkDPahB+7skhAu+SJjpPbLIKbyyQqG7p7OQPXgABr2ADBK+88flPZ1XCb48v469gtiwu5T3PD5rC15dawte" +
    "XWsLXl1rC15dOgNlvSCNU7r6ri8+/jxtva5djT3IHIm888CtPGT+Gz5ufR8+rsgUvt5PNj1dBxe9VaN/PRaHLT7ZZw" +
    "E9yOanPRMWB75sfSm9LyUbvufmhb1rd8o9tH56PN75ID0SNCi+sW07vuEen70hRSQ9KAkmveG9ID5I+fS9RYdsvaHj" +
    "XD1JJ709O2YyPfcNEj5xtO69bykuPnQZNj52flS+IdWWvNIeXT1qPoG99VsCvQDKUL5+yge+hBMGvTxZK717ksw9LP" +
    "abPWUf4D1jpYS9wlAvPpWdlr0dKSC+bbesPdLPOLykuNU9bpQJPsNc9D2+kZk9gfXbPTdeGj6yzwu9iKvevaRBTT24" +
    "lwa8L8VQvpq4Zr0o3Ne9pNcRPuAysr1cdHI8HLvGOxK497zS0sI9wDw9PmSym72fRiE9q56OvRPi6L1eOe+9dKiNPX" +
    "w68j1+VO28awteXWsLXl1rC15dawteXfJtGT2VcYu9ZPgVvuaF+j0ALIg9C19iPpidsTwEg8Y9nrRkPXOi+72KyxQ+" +
    "Fv2WvQblqDxPNLU7V+Xhvc1MkL1rC15dawteXWsLXl1rC15dt2z5vOc8kz3mRT2+q97rPRCMQT3U6s89Xq8qPgH09T" +
    "qQ0D+9KH9jPYiTi7wijDo+Zy8NPixRqTzOObU837oivlyNE76HTte9Ge3XvXD/o7xTZw6+wS77vZ1jeD2j0yU9Jkkq" +
    "PoAbYTtfKGC9TIuHPTUmlzy5/8q9IpXKPay4JT4/XGu9yVgJvLxrOj5x3ea9PR8GPYfyLr7s+HS9nXCcvZxQE77IzM" +
    "492cSKPR55xbw7fzC9BZRSPtlvdL3wXfe9UEe3vWLKlzwBATc+mTLPPN03FbzFAO09nAe4PZEkD76gXC4+S+8GPnF3" +
    "cT2LP4g9B8tQPWx3Dr2U0+C6DthBPpYgj72d9ys+37TKPc4VJD4S+FK8O0pTvsolOL1Tb848tcuKPRNA+b3dIRo+2Q" +
    "JkvV+wHj5RgDS9RiNuOSPspr1H80a+4M6LvTD9/bwqCbK9awteXWsLXl1rC15dawteXWsLXl1rC15dawteXWsLXl1K" +
    "wLy8ALuHO65b9L0tFBq+a3bevBjslryjM2y8TnIJPVv30LxtuCI+mHi9vQYXnD3Wq3s9jP+PvDubT75lAZM9mRcIvs" +
    "Mt7j335Au8qZgAvMCN9b2yZPS910RPPeydUTsfiAM+eIyovf1dtD2I9CW9bE8Vvmykqz3wY549LIK8PGsLXl1rC15d" +
    "awteXWsLXl1rC15dawteXWsLXl1rC15dflcGPt1B+r2Km6a9TRjFvVVqGz741h+8EzEZPkLEuD0iF2S8zF4OPNy0OT" +
    "4g/rY9ARaBvZsqs72lZBW+6yrSvV0+Fj4UTSE9rHh5vQ16/D2GPPe8jddbPo/DRz3jzFu86Lx6PRGCOT5AdgG+Po+X" +
    "vOLloL12s6A9rVXhvYtCpz2wV7E9hYOsPckTRj07hg6+prAEvoxoUD0GBxA9xKklvhbKcryOJ+a9TLenvcRe6T2CbD" +
    "28jUyKPU6i9T2Ae+w9cu1DPWZ3O7wrfCa+njxcPdnutj2ve0U8uzS/PQJfbL5W1xc+Kx6lvbUYVj0c4ui8nWCJO0bI" +
    "Nz4fYI29PCf8PRVkIL4gEPi8p+envK7LBL6Zs689RWW7vR7ByLw/ihE+kKAIPcFV+z1OVjO996M0vcAV0DgUcwk9gy" +
    "4LvvXqEb53BZy9dFgJvvbv9D1CZxs8RTEqOxtsKr57KK29H7kpvTiF4rx4vHY6U4COPFvHv7vJMjq+vwgKPkKLgDqR" +
    "2uQ8aIQWvkRGU72ommC8FcUtPkOhXr2Yjkc9zkUpPjYOAb4r/xE+G4XRPU6AkT0qKBg9xUwHPvM+AT43p/o85LGuPZ" +
    "e3GT7xxme9M4+xveo6Iz0fbk2+jzk5Pd1Syb05H5a8FzlgPVvcAr5u8tM9zc7bPUwQlD2oj0A+V3LLPalRXL0u8Yw9" +
    "gEQJPhdBtL1VQkS9EmgdvExZcz1UyzG+/IDgPd8iCr48m8Y9hYEWPnNSuDwk83m8cJ5XvWdxIL5S6uW9g3AZPbtUxL" +
    "3WmdM9QerKvZyziL2YFTm+mBDDvZ44Uj1ASbi9DJQOPchegrxonUi+awteXWsLXl1rC15dawteXQ36Ar3REhI9L4+n" +
    "OsJgbj6KjbS9r6TnvBe7TTwu6EM9awteXWsLXl1rC15dawteXfaXEb15e0G99NQ5vrKDrD3yvQW+JwhHvRIJJr0hdv" +
    "89p9irPPg3qbsLrdC8V+wtPWn5GL6whDI8dnubvWMW7L3bDRW9J2nHvY6QFj6sT4g9Ad2SPfP7Db4Dlg+9TEKxvX35" +
    "TL5K8Ic8xUEYPrZ73bzL+UW9C5dfvoILhT3IpZy9+q47u4ejm7z5yHo9THcQvZTbqz1yqR8+umuSvaFzij2MKcK9dD" +
    "8ePpozCT2a8sI9awteXWsLXl1rC15dawteXcLGxzqUij8+2EmQPCph7b2kV7A9Ae1evOIjaD2m4TI+WwhCPT0NED1T" +
    "qkA+MzGnvZIhJj4cIYM8vcAZvWrhD77o+da8fPeVPZUvnr0wCoO9NNF4PEp92r2u2TW+Li0yvchGLD4HvMS9donfvH" +
    "9Yfb3Xmak8yzdhvRuplrwW1jc+umXCva85zT0gGuW82YXSPSLHEz5XIOs9CKn0u4BIJL1q55c9H6YqPVkZIj4aXbA9" +
    "MQu5vavuRb1WsUQ9C9VCvu1EWb4m62Y8JwOxO2CFi720+ma+pk2yvcUPmjwFsdY9tgahPX27Gr7GPbA9JmC6vRzMCD" +
    "7iaAY+rlWUvXm5yD1rC15dawteXWsLXl1rC15dD3NvPZzp4D3+OeQ9TF0PvncUl72dHyy+yE2GvVktHDyGyR+9CkDs" +
    "vaQ/JD77Gew835gmPniSWz7wj9C9NIxPvb1/fbzZ1hC+i3LGvaCBG70cBww+AisGvpmI2DxgXuM8k1syPiCpMLwlob" +
    "C9GAiNO/tBkLyxzo47PKLyvUlOHT786WA99e5gPUFRDD7g+jE+pUwCPK+ueD0smE6+WR16vfdIfL1xh5q9FQE+Pm00" +
    "0DuRrZa9WSv5PYzyej0lr1Y9xYoBPgdFuT3fNzU9fX0BPYTh3boVyZ69+PgePY/8K76TexG+Ig2MPdUmuT0m7C2+ZU" +
    "7ZPS1esb17bRu+Kc3SvXY+0byB1UQ+0vk6va9sqL3dPq29xnY1vtgYbzxBi+A9ty03voSY3ztE0U6945/Hu5WMajze" +
    "M1e9uHIhvg5Az73HuDK+p1jtPDYNDL2peMW8lEc0veiMOT6eik49/nY2vYp/FD7ns5W96yMtPWI2DT5rC15dawteXW" +
    "sLXl1rC15dpRnZPRwV8Lzsdg49eJgkvqc5Mz07FUu+wsU2PQCyab0KRKq9npssuxbnhry8eU6+s85nPYHoMb1uDng+" +
    "qyAcvcLx1Tw619i9JREDvtTJyz3P9k0+un6qPQf/Uz3/2by8wKTLPaM5AD4UwQe+f3B7vS2ypr1tMN68WwAoPh3Rnz" +
    "0lkA6+LjW8vX55O70ABqs9awteXWsLXl1rC15dawteXXV8gjzrj6w9Wm8yvbNGBT5QM/k8ZXdrvN/dGjxK7XA+CRYL" +
    "PhszkbwSDQQ+N14APfAaHr7X7qQ9BTD8vVemU71Y+gm+CAYSvihob70qNbq86pDDOxqDK75sb4Y8p1q3PTNODj7CTg" +
    "s96hUGvgszST3tP8O7GtmpvVAeLj0UeTK+qqECvvZ0nL3LP7Q9U/BTPeQZwL0s/bE9mdwRPiIjiz0N3sA9VHs+PsAJ" +
    "kTzChpC5n9KUvW3fCj7Mc5w9u44jvjnDwz1FQdy9PV69vSVqkr0aj5E8wKQYPPFewLvZIG88awteXWsLXl1rC15daw" +
    "teXVbsIr0vmR09ZkcVvtQBED4PBV29DOXoPShXy7x6tYs9awteXWsLXl1rC15dawteXXs/wz23BY69CiQYPlUrC7yq" +
    "BRy7kfhFPDe02bzQCkK+awteXWsLXl1rC15dawteXds/qj2wSQa+Ea3Tvfk8pr3W86Q9NFYgPuoCsDyjxaG9AGE6vt" +
    "LGk72OlFc9C9YMPmv5Er6n4qw98ql4veEN4rzhsRa+kW3KvYyaw72LBGe9p2/QvF6SdL4YLco9r70Rvq9mIj5xegM9" +
    "7v93vSCXcz1exym9ZQz0vD1VJb4OW589LTlnvBdXIb6XGh09MyCCPanXAr44e0k8EocYPgbvw71fLCa9JRm9PYXFjj" +
    "z4Yw8+51UbvSn31T2e0Ck+oEU5PUIpEj72rpS8YJ6nPd4msL0SpB0+kMDOvUC5qztD6YS8RBqbvdfKsT05mXi9P58L" +
    "vtCQSz5moGm8FFv+vflFnz1RvKY9L8IavVLgmj2wBBU+awteXWsLXl1rC15dawteXblHe7xbTH69mjvrPacZNb7nfd" +
    "q8KLIPPg6rIDs04Nc9VE2fPUsYvT0PxRS+2F0JvX/GGb32rSO+jK4UvYAiq72BDzu86ch7vJdpzL0vnyo+QS+lPQEy" +
    "HD64ltI9z1WCvejx/b0jTxO+42wgvuAEZD2w5gA9AWCIvdMeD77ayS+9zJC9PPz3ijxeRkk+a5p3PLcoIr4jAFG7bU" +
    "vPPe9XKT2Odl8+qvlJPdwGlT3UTvu74F8jPITMrzzJRFC8+MykPKKO571vC1g8aJY8vf5dJ74tWRo+BWORvTr58b03" +
    "f308d0eUPR6CTD3aNQa+sSQfvuFZNTuEaEe+E/CVvedAw70WvHy778c4Pmor67xRZkM9+8SbvY/wrbzzVja+xaG2PW" +
    "z+FT1DweA91tAXPhbpir3wfwU9zyd5vch0Iz4Tseo9HEUlviNXWD3tn8I9tMGhvGsLXl1rC15dawteXWsLXl0bRAi+" +
    "GfnEve8sXDq1gOc8awteXWsLXl1rC15dawteXZXNUj3RZtW9fsq8PaRhBb79OIc9tUJKvX3CBb0ZpDM+9OIxPjy0Uz" +
    "1N8om851siPBAnDr5hllW9XQPMPXG56b1rC15dawteXWsLXl1rC15duF+mPQSkDb1wcjw+u+x3O6dLFD3nBVg7yesH" +
    "PY9+Sz5qfxS+OsmYveJxaD3T4k099xu3PYBa5D35+aO8MjE2vhggpLtKHYo8b0qXPaF2mTv7TSw8CG49PWZpM76wTy" +
    "C99G+lvW3d8j3HxNU8+CkLvhUkGr2pboI99iB0PFi0gjxoRuM8/HHTvTGNf72MAje+awteXWsLXl1rC15dawteXQxY" +
    "nr0jeRs+6PCVvaVNSj1KKb06UH4wvvR2hL0HICs9awteXWsLXl1rC15dawteXQ=="
  private val FrozenQueryB64: String =
    "uzRePYJB2D3rxxm9w0SBvqh7TD5BvMa9ls6fvYtwcrxSryc+sATlPILxJD3OI+e8sixFvgZ8jr2SAd28KBMDvYwYtb" +
    "wsYqw9lWjiO6Mh9T1E/Hq+PXsrvhSQGj6e7Eq91UudvQvQlj6GeJw9nsyZvTsK/zzVLmY+rF3kPdM4ij4NDS6+/m6D" +
    "vj3E/juWNg69M8oNvO0cujyEKUg8FFowPSyBrj2j/WS8uD4UviBrFb3V2sk8iwffPccvfj3jqwy+UtwSPms0A769S6" +
    "s8Sfl2PhgAoD0XZAC+WzVfPbEY0Dsoqj49gGQdPSoqNL46xwC+96RevejKQjyL1dc9jR2Evg=="

  private lazy val coarse: Array[Float] = Ann.unpackFloats(FrozenCoarseB64)
  private lazy val codebook: Array[Float] = Ann.unpackFloats(FrozenCodebookB64)
  private lazy val qvec: Array[Float] = Ann.unpackFloats(FrozenQueryB64)
  private lazy val frozen = Ann.FloatCodec(codebook, coarse, M, Ksub, Cells)
  // derived, not separately frozen: the ADC lookup table and the probed
  // cells are pure functions of the frozen arrays (same driver code paths
  // a live probe runs)
  private lazy val lut: Array[Float] = PqOps.ipLut(qvec, codebook, M, Ksub)

  /** Test access: the decoded frozen parameters (codebook, coarse, query). */
  private[graft] def frozenParams: (Array[Float], Array[Float], Array[Float]) =
    (codebook, coarse, qvec)
  private[graft] def frozenQueryVec: Array[Float] = qvec
  private def probedCells(nprobe: Int): Seq[Int] = frozen.nearest(qvec, nprobe)

  // ── SQL generation from the frozen floats ───────────────────────────────
  /** Exact double-widened value of a float, as a SQL literal. DuckDB
    * parses a bare decimal literal as DECIMAL and its decimal->double
    * conversion rounds TWICE for >2^53 scaled mantissas (measured: sqrt of
    * a round-tripped literal came back an ulp off) — an exponent suffix
    * forces direct DOUBLE parsing, which round-trips exactly.
    */
  private def dbl(f: Float): String = dblD(f.toDouble)
  private def dblD(v: Double): String = {
    val s = v.toString
    if (s.indexOf('e') >= 0 || s.indexOf('E') >= 0) s else s + "e0"
  }

  /** sqrt of the frozen query's norm — the same sequential widened-float
    * accumulation CosineSim's loop runs, done once here since the query is
    * a constant.
    */
  private lazy val sqrtNb: Double = {
    var nb = 0d
    qvec.foreach { f => val y = f.toDouble; nb += y * y }
    math.sqrt(nb)
  }

  /** CosineSim replayed EXACTLY: `list_cosine_similarity` differs from the
    * codegen loop in the last ulp (it does not compute
    * `dot / (sqrt(na) * sqrt(nb))` with the same rounding — the self-match
    * rendered 1.0 where the loop gives 1.0000000000000002), so the dot and
    * norm sums are written as explicit left-associated chains against the
    * frozen query literals and the division copies the loop's exact shape.
    */
  private def cosineSql(embExpr: String): String = {
    def e(i: Int) = s"CAST($embExpr[${i + 1}] AS DOUBLE)"
    val dot = (0 until Dim).map(i => s"${e(i)} * ${dbl(qvec(i))}").mkString(" + ")
    val na = (0 until Dim).map(i => s"${e(i)} * ${e(i)}").mkString(" + ")
    s"(CASE WHEN ($na) = 0 THEN NULL ELSE ($dot) / (sqrt($na) * ${dblD(sqrtNb)}) END)"
  }

  /** `(cell, cv)` VALUES rows for the coarse centroids. */
  private def centsSql: String = (0 until Cells).map { c =>
    val row = (0 until Dim).map(d => dbl(coarse(c * Dim + d))).mkString(",")
    s"($c, [$row]::DOUBLE[])"
  }.mkString(",\n  ")

  /** `(sub, cell, cv)` VALUES rows for the PQ codebook. */
  private def cbSql: String = (for (s <- 0 until M; c <- 0 until Ksub) yield {
    val row = (0 until SubDim)
      .map(d => dbl(codebook((s * Ksub + c) * SubDim + d))).mkString(",")
    s"($s, $c, [$row]::DOUBLE[])"
  }).mkString(",\n  ")

  private def lutSql: String = lut.map(dbl).mkString("[", ",", "]::DOUBLE[]")

  /** Left-associated explicit sum of squared diffs over `emb[off+1 ..
    * off+n]` vs `cv[1..n]` — the PqEncode/L2Sq inner loop, fold order
    * pinned by syntax.
    */
  private def l2Terms(embExpr: String, cvExpr: String, off: String, n: Int): String =
    (0 until n).map { d =>
      val diff = s"(CAST($embExpr[$off$d + 1] AS DOUBLE) - $cvExpr[$d + 1])"
      s"$diff * $diff"
    }.mkString(" + ")

  /** The PqAdc FLOAT fold: nested CAST(.. AS FLOAT) over the m lookups. */
  private def adcExpr: String = {
    val t0 = s"CAST(l[cl[1] + 1] AS FLOAT)"
    (1 until M).foldLeft(t0)((acc, s) =>
      s"CAST($acc + l[${s * Ksub} + cl[${s + 1}] + 1] AS FLOAT)")
  }

  /** Coarse-assignment CTEs shared by q190/q192: score every vector against
    * every frozen centroid, keep the argmin cell.
    */
  private def coarseAsgCtes: String =
    s"""cents(ccell, cv) AS (VALUES
       |  $centsSql),
       |cscore AS (
       |  SELECT e.vec_id, e.label, e.embedding, c.ccell,
       |    ${l2Terms("e.embedding", "c.cv", "", Dim)} AS dist
       |  FROM embeddings e CROSS JOIN cents c),
       |asg AS (
       |  SELECT vec_id, label, embedding, ccell AS cell FROM cscore
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, ccell) = 1)""".stripMargin

  /** PQ encode + ADC CTEs over a candidate CTE named `cand(vec_id,
    * embedding, ...)`: per-subspace argmin codes, sub-ordered code list,
    * FLOAT ADC fold against the frozen LUT.
    */
  private def pqAdcCtes(candCte: String): String =
    s"""cb(sub, scell, cv) AS (VALUES
       |  $cbSql),
       |lut AS (SELECT $lutSql AS l),
       |sscore AS (
       |  SELECT d.vec_id, c.sub, c.scell,
       |    ${l2Terms("d.embedding", "c.cv", s"c.sub * $SubDim + ", SubDim)} AS dist
       |  FROM $candCte d CROSS JOIN cb c),
       |enc AS (
       |  SELECT vec_id, sub, scell FROM sscore
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, scell) = 1),
       |codes AS (SELECT vec_id, list(scell ORDER BY sub) AS cl FROM enc GROUP BY vec_id),
       |adc AS (SELECT vec_id, $adcExpr AS adc FROM codes CROSS JOIN lut),
       |short AS (SELECT vec_id FROM adc ORDER BY adc DESC, vec_id LIMIT $Rerank)""".stripMargin

  private def q190OracleSql: String =
    s"""WITH $coarseAsgCtes
       |SELECT vec_id, CAST(label AS INT) AS label, CAST(cell AS INT) AS cell,
       |  ${cosineSql("embedding")} AS sim
       |FROM asg WHERE cell IN (${probedCells(NprobeIvf).mkString(",")})
       |ORDER BY sim DESC, vec_id LIMIT $K""".stripMargin

  private def q191OracleSql: String =
    s"""WITH ${pqAdcCtes("embeddings")}
       |SELECT e.vec_id, CAST(e.label AS INT) AS label,
       |  ${cosineSql("e.embedding")} AS sim
       |FROM embeddings e JOIN short USING (vec_id)
       |ORDER BY sim DESC, vec_id LIMIT $K""".stripMargin

  private def q192OracleSql: String =
    s"""WITH $coarseAsgCtes,
       |cand AS (SELECT * FROM asg WHERE cell IN (${probedCells(NprobeIvfPq).mkString(",")})),
       |${pqAdcCtes("cand")}
       |SELECT c.vec_id, CAST(c.label AS INT) AS label, CAST(c.cell AS INT) AS cell,
       |  ${cosineSql("c.embedding")} AS sim
       |FROM cand c JOIN short USING (vec_id)
       |ORDER BY sim DESC, vec_id LIMIT $K""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ───── q190: IVF probe with FROZEN coarse centroids (oracled q51) ────
    // Every vector assigns to its nearest frozen centroid through the REAL
    // engine expression (pq_encode with m=1 — the same codegen argmin a
    // live IVF index build runs), the probe keeps the 2 cells nearest the
    // frozen query vector, candidates re-rank by exact cosine. The
    // assigned cell rides in the output so the oracle pins the ASSIGNMENT,
    // not just the final ranking.
    QueryDef.df("q190_ivf_frozen", q190OracleSql) { (s, dir) =>
      Ann.baseOf(t(s, dir, "embeddings")).withColumn("cell", frozen.cell(col("embedding")))
        .filter(col("cell").isin(probedCells(NprobeIvf): _*))
        .select(col("vec_id"), col("label"), col("cell"),
          cosineSim(col("embedding"), lit(qvec)).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(K)
    },

    // ───── q191: PQ ADC probe with FROZEN codebook (oracled q68) ─────────
    // One codegen scan encodes every vector to m=16 codes against the
    // frozen codebook and ADC-scores them with the frozen query's LUT
    // (pq_encode + pq_adc fused, exactly q68's hot path); the top-50
    // shortlist re-ranks by exact cosine. DuckDB replays the per-subspace
    // argmin, the sub-ordered code list, and the FLOAT ADC fold.
    QueryDef.df("q191_pq_frozen", q191OracleSql) { (s, dir) =>
      val emb = Ann.baseOf(t(s, dir, "embeddings"))
      val shortlist = frozen.shortlist(emb, frozen.codes(col("embedding")), qvec, Rerank)
      Ann.rerank(emb, shortlist.select("vec_id"), qvec, K)
    },

    // ───── q192: IVF-PQ probe of the MATERIALIZED index, frozen (q72) ────
    // The full FAISS-IVFADC composition under the hash gate: the index
    // TABLE is built through the catalog (PARTITIONED BY (cell), codes +
    // properties persisted) with the frozen parameters pinned at build
    // time, and the probe is the production path — partition-pruned ADC
    // scan of the 4 nearest cells, exact re-rank. DuckDB replays coarse
    // assignment, candidate pruning, encoding, the ADC shortlist, and the
    // re-rank from the raw parquet.
    QueryDef.df("q192_ivfpq_frozen", q192OracleSql) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Ann.build(s, emb, "lake.idx.emb_ivfpq_frozen", frozen)
      probe(s, "lake.idx.emb_ivfpq_frozen", emb)
    },

    // ───── q194: batched exact KNN JOIN on int8-quantized vectors ────────
    // The hard-negative-mining / seed-set-dedup shape: EVERY seed vector
    // (vec_id < 5, the in-data query batch) gets its 5 nearest corpus
    // neighbors in ONE pass. Scale plan: the quantized seed batch
    // broadcasts (Q x 64 ints), one scan scores Q integer distances per
    // corpus row map-side, and the per-seed top-5 reduces through the
    // BOUNDED BottomKByDist aggregate — at most Q·5 entries ship per map
    // task, never a window sort of the Q·N scored table. All arithmetic is
    // exact integers after the one correctly-rounded quantize division
    // (the q157/q160 int8 oracle discipline), so DuckDB replays the join
    // bit-for-bit.
    QueryDef.df("q194_knn_join_int8",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |gs AS (SELECT max(list_max([abs(x) for x in v])) AS s FROM e),
        |q AS (SELECT vec_id, [CAST(floor(x * 127.0 / s + 0.5) AS BIGINT) for x in v] AS qv FROM e, gs),
        |p AS (
        |  SELECT s.vec_id AS qid, c.vec_id,
        |    list_sum([(c.qv[i] - s.qv[i]) * (c.qv[i] - s.qv[i])
        |              for i in range(1, len(c.qv) + 1)]) AS dist
        |  FROM q s JOIN q c ON s.vec_id < 5 AND c.vec_id >= 5),
        |r AS (SELECT qid, vec_id, dist,
        |        row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rk FROM p)
        |SELECT qid, CAST(rk AS INT) AS rk, vec_id, CAST(dist AS BIGINT) AS dist
        |FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val gs = e.agg(max(array_max(transform(col("embedding"),
        x => abs(x.cast("double"))))).as("s"))
      val q = e.crossJoin(broadcast(gs))
        .select(col("vec_id"), transform(col("embedding"),
          x => floor(x.cast("double") * lit(127.0) / col("s") + lit(0.5))
            .cast("long")).as("qv"))
      val seeds = q.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("qv").as("sv"))
      val knn = udaf(new graft.functions.BottomKByDist(5))
      val dist = aggregate(
        zip_with(col("qv"), col("sv"), (a, b) => { val d = a - b; d * d }),
        lit(0L), (acc, v) => acc + v)
      q.filter(col("vec_id") >= 5)
        .crossJoin(broadcast(seeds)) // Q seed rows: broadcast fan-out, map-side scoring
        .select(col("qid"), col("vec_id"), dist.as("dist"))
        .groupBy("qid")
        .agg(knn(col("vec_id"), col("dist")).as("nn"))
        .select(col("qid"), posexplode(col("nn")))
        .select(col("qid"), (col("pos") + 1).cast("int").as("rk"),
          col("col._1").as("vec_id"), col("col._2").as("dist"))
        .orderBy("qid", "rk")
    },

    // ───── q199: INCREMENTAL index refresh == full rebuild (oracled) ─────
    // The ingest workflow a 100 TB vector corpus actually runs: the index
    // is built once (parameters pinned in TBLPROPERTIES), then daily
    // embedding batches are ENCODED ONLY and appended — O(new vectors)
    // work, partition-clustered by cell so probes keep pruning. The oracle
    // is q192's verbatim: DuckDB recomputes the probe from the RAW corpus,
    // so a refreshed index that dropped, duplicated, or mis-assigned any
    // appended vector fails the hash gate — "refresh ≡ rebuild" proven,
    // not assumed. Build over the even half, refresh with the odd half.
    QueryDef.df("q199_ann_index_refresh", q192OracleSql) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Ann.build(s, emb.filter(col("vec_id") % 2 === 0), "lake.idx.emb_ivfpq_refresh", frozen)
      Ann.refresh(s, "lake.idx.emb_ivfpq_refresh", emb.filter(col("vec_id") % 2 === 1))
      probe(s, "lake.idx.emb_ivfpq_refresh", emb)
    }
  )

  /** The frozen query's top-10 from an IVF-PQ index: ADC shortlist over
    * the 4 nearest cells, exact re-rank; the assigned cell rides in the
    * output so the oracle pins the IVF assignment, not just the ranking.
    */
  private def probe(s: SparkSession, table: String, emb: DataFrame): DataFrame = {
    val (codec, rows) = Ann.scan(s, table, qvec, NprobeIvfPq)
    val shortlist = codec.shortlist(rows, col("codes"), qvec, Rerank)
    Ann.rerank(Ann.baseOf(emb), shortlist.select("vec_id", "cell"), qvec, K)
  }
}
